package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.operators.Checkpoints.GraftCheckpointOps

/** Text-analysis operators over `documents` — the training-data-pipeline
  * extension (language-ID heuristic, quality scoring, token counting,
  * fingerprinting). All single-pass, per-row map work: at 100 TB these are
  * scan-bound (the per-doc outputs partition with the scan), which is
  * exactly the shape a data-curation pipeline wants; the only exchange is
  * the input-spreading repartition of [[docs]], needed when the scan
  * arrives in fewer splits than cores.
  *
  * Note: the synthetic corpus carries no real language signal (the text is
  * the same vocabulary for every `lang` label), so t50's correctness is
  * the determinism of its scoring rule — pinned by the DuckDB oracle
  * running the identical rule — not label recovery.
  */
object TextOps {

  /** documents, spread across all cores before the per-row compute: the
    * testdata parquet is one row group → one input split, which would
    * serialize the compute-dense scoring/hashing. The shuffled payload is
    * raw docs (tiny vs the downstream work); on a real cluster the scan
    * arrives in many splits and AQE can elide the exchange.
    */
  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions)

  private def toks: Column = split(col("text"), " ")

  /** Tiny per-language stopword profiles (public common-word lists). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "que", "pour", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "ein"))

  private[operators] def langScore(lang: String): Column =
    size(filter(toks, t => t.isin(stopwords(lang): _*))).as(s"${lang}_score")

  // CAST to BIGINT: DuckDB's list_sum returns HUGEINT, which pandas (the
  // driver's compare layer) widens to float64 — the value hash then sees
  // 4.0 vs Spark's 4 and fails even though every value is equal.
  private[operators] def langScoreSql(lang: String): String = {
    val list = stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"CAST(list_sum(list_transform(string_split(text, ' '), t -> CASE WHEN t IN ($list) THEN 1 ELSE 0 END)) AS BIGINT)"
  }

  private[operators] val langsSorted: Seq[String] = stopwords.keys.toSeq.sorted

  /** Deterministic argmax over per-language score columns (score desc,
    * earlier language wins ties); `scoreOf` maps a language to its score
    * column (usually a materialized `{lang}_score` column).
    */
  private[operators] def bestLangFold(scoreOf: String => Column): Column =
    langsSorted.map(l => struct(scoreOf(l).as("s"), lit(l).as("l")))
      .reduce((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
      .getField("l")

  /** SQL mirror of [[bestLangFold]] over `{lang}_score` columns. */
  private[operators] val bestLangFoldSql: String = {
    val fold = langsSorted.map(l => s"struct_pack(s := ${l}_score, l := '$l')")
      .reduce((a, b) => s"CASE WHEN ($b).s > ($a).s THEN $b ELSE $a END")
    s"($fold).l"
  }

  /** The t51 quality score as one inline expression over `text` — reused
    * by the curation pipeline; identical arithmetic to [[t51Quality]].
    */
  private[operators] def qualityScoreExpr: Column = {
    val nTokens = size(toks)
    val nChars = length(col("text"))
    val nPunct = regexp_count(col("text"), lit("[^a-z0-9 ]"))
    val stopEn = size(filter(toks, t => t.isin(stopwords("en"): _*)))
    round(
      lit(0.3) * least(lit(1.0), nTokens / lit(100.0)) +
      lit(0.4) * (lit(1.0) - nPunct / nChars) +
      lit(0.3) * least(lit(1.0), (stopEn / nTokens) * 5.0), 6)
  }

  /** SQL mirror of [[qualityScoreExpr]] over `text` of the relation in
    * scope.
    */
  private[operators] val qualityScoreSqlExpr: String =
    s"""ROUND(0.3 * least(1.0, len(string_split(text, ' ')) / 100.0) +
       |      0.4 * (1.0 - len(regexp_extract_all(text, '[^a-z0-9 ]')) / length(text)) +
       |      0.3 * least(1.0, (${langScoreSql("en")} / len(string_split(text, ' '))) * 5.0), 6)""".stripMargin

  // -------------------------------------------------------------------
  // t50: language identification — stopword-profile n-gram heuristic
  // with a deterministic argmax (score desc, language asc).
  // -------------------------------------------------------------------
  def t50LangId(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id") +: col("lang").as("labeled_lang") +:
        langsSorted.map(langScore): _*)
      .withColumn("pred_lang", bestLangFold(l => col(s"${l}_score")))
      .orderBy(col("doc_id"))

  val t50LangIdSql: String = {
    val scoreCols = langsSorted.map(l => s"  ${langScoreSql(l)} AS ${l}_score").mkString(",\n")
    s"""WITH scored AS (
       |SELECT doc_id, lang AS labeled_lang,
       |$scoreCols
       |FROM documents)
       |SELECT doc_id, labeled_lang, ${langsSorted.map(l => s"${l}_score").mkString(", ")},
       |  $bestLangFoldSql AS pred_lang
       |FROM scored
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // t51: quality scoring — length/punctuation/stopword signals combined
  // into a deterministic [0,1] score.
  // -------------------------------------------------------------------
  def t51Quality(spark: SparkSession, dir: String): DataFrame = {
    val nTokens = size(toks)
    val stopEn = size(filter(toks, t => t.isin(stopwords("en"): _*)))
    docs(spark, dir)
      .select(col("doc_id"),
        length(col("text")).as("n_chars_calc"),
        nTokens.as("n_tokens"),
        regexp_count(col("text"), lit("[^a-z0-9 ]")).as("n_punct"),
        stopEn.as("n_stop"))
      .withColumn("punct_ratio", col("n_punct") / col("n_chars_calc"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
      .withColumn("quality_score", round(
        lit(0.3) * least(lit(1.0), col("n_tokens") / lit(100.0)) +
        lit(0.4) * (lit(1.0) - col("punct_ratio")) +
        lit(0.3) * least(lit(1.0), col("stop_ratio") * 5.0), 6))
      .orderBy(col("doc_id"))
  }

  val t51QualitySql: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    length(text) AS n_chars_calc,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
       |    ${langScoreSql("en")} AS n_stop
       |  FROM documents)
       |SELECT doc_id, n_chars_calc, n_tokens, n_punct, n_stop,
       |  n_punct / n_chars_calc AS punct_ratio,
       |  n_stop / n_tokens AS stop_ratio,
       |  ROUND(0.3 * least(1.0, n_tokens / 100.0) +
       |        0.4 * (1.0 - n_punct / n_chars_calc) +
       |        0.3 * least(1.0, (n_stop / n_tokens) * 5.0), 6) AS quality_score
       |FROM m
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t52: token counting — whitespace tokens and a BPE-ish regex
  // (word pieces + isolated non-space symbols).
  // -------------------------------------------------------------------
  def t52TokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        size(toks).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-zA-Z0-9_]+|[^a-zA-Z0-9_ ]")).as("re_tokens"))
      .orderBy(col("doc_id"))

  val t52TokenCountSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_ ]')) AS re_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t53: document fingerprinting — whole-content hash of the normalized
  // text plus a polynomial-hash minimum over char 8-grams (the winnowing
  // primitive: near-identical texts collide on min_shingle_hash with
  // high probability). The window hash is Rabin-Karp (base 257 mod a
  // 50-bit prime): one char-code array pass, then 8 multiply-adds per
  // window — per-window md5 would be ~20× the CPU on what is otherwise
  // the scan-bound operator of the suite. All arithmetic stays below
  // 2^63 (M*257+255 < 2.6e17), so Spark and DuckDB BIGINT agree exactly.
  // -------------------------------------------------------------------
  private val PolyBase = 257L
  private val PolyMod = 999999999999989L // prime < 2^50
  private val WindowChars = 8

  def t53Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    // one pass to char codes; slice drops split('')'s trailing empty token
    val codes = slice(transform(split(col("norm"), ""), c => ascii(c).cast(LongType)),
      lit(1), length(col("norm")))
    // 8-term Horner fold; try_element_at (null, not ANSI error, when out
    // of bounds) + coalesce pads the single window of a sub-8-char doc
    // (for len >= 8 every index is in bounds)
    def windowHash(i: Column): Column =
      (1 until WindowChars).foldLeft(coalesce(try_element_at(col("codes"), i), lit(0L))) {
        (h, k) => (h * PolyBase + coalesce(try_element_at(col("codes"), i + k), lit(0L))) % PolyMod
      }
    docs(spark, dir)
      .withColumn("norm", norm)
      .withColumn("codes", codes)
      .select(col("doc_id"),
        graft.functions.HashFns.fastMd5(col("norm")).as("content_md5"),
        array_min(transform(
          sequence(lit(1), greatest(length(col("norm")) - (WindowChars - 1), lit(1))),
          i => windowHash(i))).as("min_shingle_hash"))
      .orderBy(col("doc_id"))
  }

  val t53FingerprintSql: String = {
    val fold = (1 until WindowChars).foldLeft("coalesce(codes[i], 0)") {
      (h, k) => s"(($h) * $PolyBase + coalesce(codes[i + $k], 0)) % $PolyMod"
    }
    s"""WITH n AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, norm,
       |    list_transform(range(1, length(norm) + 1),
       |      i -> ord(substr(norm, i::INT, 1))::BIGINT) AS codes
       |  FROM n)
       |SELECT doc_id, md5(norm) AS content_md5,
       |  list_min(list_transform(range(1, greatest(length(norm) - ${WindowChars - 1}, 1) + 1),
       |    i -> $fold)) AS min_shingle_hash
       |FROM c
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // t54: TF-IDF — top-3 terms per document by smoothed tf-idf
  // (tf · (ln((N+1)/(df+1)) + 1), the sklearn-style smoothing). The
  // classic keyword/feature extractor of a text pipeline: one explode,
  // two hash aggregates (per-(doc,term) tf; per-term df), a broadcast-
  // able df join, a per-doc top-k window.
  //
  // Cross-engine determinism: ln() is the one transcendental here, and
  // libm implementations may legitimately differ by an ulp — an ulp on a
  // raw ORDER BY key can flip which term ranks 3rd. So the idf is
  // SNAPPED to integer nano-units (floor(ln(·)·1e9 + .5)) — a 1e-16
  // relative ulp cannot move a value across a .5 nano boundary unless it
  // sits exactly on one (measure-zero for transcendentals; the hash gate
  // verifies this data) — and the score becomes tf · idf_nanos: exact
  // integer arithmetic, exact ordering, one final division shared by
  // both engines. Same fixed-point discipline as Relational.dsum.
  // -------------------------------------------------------------------
  private val TfIdfK = 3

  def t54TfIdf(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val nDocs = d.count() // one tiny count action → a plan literal
    val terms = d.select(col("doc_id"), explode(toks).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // tf rows ARE the distinct (doc, term) pairs — derive df from them
    // instead of a second corpus explode + distinct (one scan, and the
    // df aggregate runs over pre-aggregated rows, not raw tokens)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idfNanos = (floor(log((lit(nDocs.toDouble) + 1.0) / (col("df") + lit(1.0)))
      * lit(1e9) + lit(0.5)) + lit(1000000000L)).cast(LongType)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_n").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("score_n", col("tf") * idfNanos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfIdfK)
      .select(col("doc_id"), col("rank"), col("term"), col("df"),
        (col("score_n").cast(DoubleType) / lit(1e9)).as("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val t54TfIdfSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
       |dfreq AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT doc_id, term, df,
       |    tf * (CAST(floor(ln(((SELECT COUNT(*) FROM documents) + 1.0) / (df + 1.0))
       |               * 1000000000.0 + 0.5) AS BIGINT) + 1000000000) AS score_n
       |  FROM tf JOIN dfreq USING (term)),
       |ranked AS (
       |  SELECT doc_id, term, df, score_n,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score_n DESC, term ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, term, df,
       |  CAST(score_n AS DOUBLE) / 1000000000.0 AS score
       |FROM ranked WHERE rank <= $TfIdfK
       |ORDER BY doc_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // t55: repetition-based quality filtering (the Gopher "repetition
  // signals" family): per doc, the fraction of tokens taken by the most
  // frequent token and the duplicate-fraction of 2-grams / 3-grams,
  // combined into a pass/fail gate. All three signals are per-row array
  // arithmetic over the token vector — NO shuffle, scan-bound like
  // t50-t53, which is the shape repetition filters need at 100 TB (they
  // run before anything expensive and prune the corpus for it). The
  // top-token count runs O(|distinct| · n) per doc via a higher-order
  // fold instead of an explode + two aggregates — trading per-row CPU
  // (bounded by vocab · length) for zero exchanges.
  //
  // Thresholds are calibrated to the synthetic corpus (tu<=0.15,
  // dup2<=0.05, dup3<=0.02 split sf0.01 360/140) so the gate is
  // discriminative, not constant; all arithmetic is exact-integer
  // counts + one IEEE division, so both engines agree bit-for-bit.
  // Docs are >= 10 tokens in the testdata; the greatest(...,1) guards
  // keep the expression total anyway.
  // -------------------------------------------------------------------
  private val RepTopUnigramMax = 0.15
  private val RepDup2Max = 0.05
  private val RepDup3Max = 0.02

  /** k-gram instance array (instances, NOT distinct — d41's shingles
    * dedup per doc; repetition signals need the duplicates). Takes the
    * MATERIALIZED token-array column, never the `toks` split expression:
    * a split() referenced inside the position lambda re-tokenizes the
    * whole text per gram position (the O(tokens²)-per-doc trap
    * documented at Dedup.shingledCountedFrom).
    */
  private[operators] def kgrams(t: Column, k: Int): Column =
    transform(sequence(lit(1), greatest(size(t) - (k - 1), lit(1))),
      i => concat_ws(" ", (0 until k).map(j => try_element_at(t, i + lit(j))): _*))

  /** SQL mirror of [[kgrams]]. `list_slice` clamps to the list bounds and
    * `array_to_string` joins whatever survived — exactly concat_ws's
    * null-skip on a sub-k-token doc. The earlier `t[i] || ' ' || t[i+1]`
    * form NULL-propagated out-of-range tails, silently dropping the
    * partial gram the Scala side emits (latent t55/t56/d49 divergence on
    * short docs; ADVICE r06).
    */
  private[graft] def kgramsSql(k: Int): String =
    s"list_transform(range(1, greatest(len(t) - ${k - 1}, 1) + 1), " +
      s"i -> array_to_string(t[i : i + ${k - 1}], ' '))"

  /** t55's per-doc metric projection over ANY (doc_id, text, ...) frame —
    * stateless per-row arithmetic, so the SAME expression tree runs on a
    * STREAM unchanged (StreamingSpec pins it): quality gates are the
    * filters an ingest pipeline applies before anything stateful.
    */
  private[graft] def repetitionMetricsFrom(df: DataFrame): DataFrame = {
    val t = col("t")
    def dupFrac(k: Int): Column = {
      val g = kgrams(t, k)
      lit(1.0) - size(array_distinct(g)) / greatest(size(g), lit(1))
    }
    val topCnt = array_max(transform(array_distinct(t),
      w => size(filter(t, x => x === w))))
    df
      .withColumn("t", toks) // tokenize ONCE (see kgrams note)
      .select(col("doc_id"), size(t).as("n_tokens"),
        (topCnt / size(t)).as("top_unigram_frac"),
        dupFrac(2).as("dup_bigram_frac"),
        dupFrac(3).as("dup_trigram_frac"))
      .withColumn("passes_gate",
        (col("top_unigram_frac") <= RepTopUnigramMax &&
         col("dup_bigram_frac") <= RepDup2Max &&
         col("dup_trigram_frac") <= RepDup3Max).cast(IntegerType))
  }

  /** The composable batch form (c72 joins it; an inner orderBy would
    * just cost a useless exchange under the downstream join).
    */
  private[operators] def t55Metrics(spark: SparkSession, dir: String): DataFrame =
    repetitionMetricsFrom(docs(spark, dir))

  def t55Repetition(spark: SparkSession, dir: String): DataFrame =
    t55Metrics(spark, dir).orderBy(col("doc_id"))

  val t55RepetitionSql: String = {
    def dupFracSql(k: Int) =
      s"1.0 - len(list_distinct(${kgramsSql(k)})) * 1.0 / greatest(len(t) - ${k - 1}, 1)"
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |m AS (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    list_max(list_transform(list_distinct(t),
       |      w -> len(list_filter(t, x -> x = w)))) * 1.0 / len(t) AS top_unigram_frac,
       |    ${dupFracSql(2)} AS dup_bigram_frac,
       |    ${dupFracSql(3)} AS dup_trigram_frac
       |  FROM toks)
       |SELECT doc_id, n_tokens, top_unigram_frac, dup_bigram_frac, dup_trigram_frac,
       |  CAST(top_unigram_frac <= $RepTopUnigramMax
       |    AND dup_bigram_frac <= $RepDup2Max
       |    AND dup_trigram_frac <= $RepDup3Max AS INTEGER) AS passes_gate
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // t56: corpus-frequent n-gram boilerplate scoring (the C4 rule family:
  // text spans that recur across many documents are boilerplate, and
  // documents dominated by them get dropped). Per doc: total 3-gram
  // instances, instances whose gram occurs in >= minDf distinct docs,
  // their fraction, and a keep flag.
  //
  // minDf is RELATIVE to corpus size — max(BoilerMinDf, ceil(n/400)) in
  // exact integer arithmetic ((n+399) div 400, zero FP) — because an
  // absolute df threshold inverts its meaning as the corpus grows: at
  // 10× the docs over the same vocabulary, every 3-gram clears an
  // absolute bar and the gate drops 100% of the corpus (found when c72
  // emptied at sf0.1). The fraction keeps the gate discriminative at
  // every gated SF (sf0.001/0.01: minDf 3, splits unchanged; sf0.1:
  // minDf 13, keeps 4160/5000) and is the scale-correct reading of the
  // C4 rule, whose published absolute constant is calibrated to one
  // fixed corpus size.
  //
  // Shape at 100 TB: one explode to gram instances, one hash aggregate
  // for document frequency (map-side combined, grams partition by
  // value), one shuffled equi-join of instances against the (small,
  // df-filtered) boilerplate gram list, one per-doc aggregate — the
  // same two-shuffle silhouette as t54's tf-idf, nothing quadratic. The
  // boilerplate list is df-filtered BEFORE the join, so the join's
  // build side is only the frequent tail, not the full gram vocabulary.
  // -------------------------------------------------------------------
  private val BoilerMinDf = 3
  private val BoilerKeepBelow = 0.35

  /** One (doc_id, gram) row per 3-gram instance of any (doc_id, text)
    * frame — shared by the t56 model fit and the per-doc scoring.
    */
  private def gramInstancesFrom(df: DataFrame): DataFrame =
    df.withColumn("t", toks) // tokenize ONCE (see kgrams note)
      .select(col("doc_id"), explode(kgrams(col("t"), 3)).as("gram"))

  /** The corpus-relative df floor (see the design note above). The one
    * count action is a metadata-cheap columnar scan.
    */
  private[graft] def boilerMinDf(spark: SparkSession, dir: String): Long =
    math.max(BoilerMinDf.toLong,
      (Tables.documents(spark, dir).count() + 399L) / 400L)

  /** The t56 boilerplate MODEL: every 3-gram occurring in ≥ minDf
    * distinct docs of `df` — the artifact an incremental pipeline fits
    * on its horizon corpus and freezes (c89's gate model, the d64
    * frozen-quantizer discipline applied to text gates).
    */
  private[graft] def boilerModelFrom(df: DataFrame, minDf: Long): DataFrame =
    gramInstancesFrom(df).groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)

  /** t56's per-doc metrics for `df` scored against a (frozen) boiler
    * gram list — per-doc arithmetic only, so it runs on any batch.
    */
  private[graft] def boilerMetricsFrom(df: DataFrame, boiler: DataFrame): DataFrame =
    gramInstancesFrom(df).join(boiler, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("df")).as("n_boiler"))
      .withColumn("boiler_frac", col("n_boiler") / col("n_grams"))
      .withColumn("keep", (col("boiler_frac") < BoilerKeepBelow).cast(IntegerType))

  /** t56's per-doc frame without the presentation sort (see
    * [[t55Metrics]]).
    */
  private[operators] def t56Metrics(spark: SparkSession, dir: String): DataFrame =
    boilerMetricsFrom(docs(spark, dir),
      boilerModelFrom(docs(spark, dir), boilerMinDf(spark, dir)))

  def t56Boilerplate(spark: SparkSession, dir: String): DataFrame =
    t56Metrics(spark, dir).orderBy(col("doc_id"))

  val t56BoilerplateSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(${kgramsSql(3)}) AS gram FROM toks),
       |boiler AS (
       |  SELECT gram, COUNT(DISTINCT doc_id) AS df FROM grams
       |  GROUP BY gram HAVING COUNT(DISTINCT doc_id) >=
       |    (SELECT greatest($BoilerMinDf, (COUNT(*) + 399) // 400)
       |     FROM documents)),
       |pd AS (
       |  SELECT g.doc_id, COUNT(*) AS n_grams, COUNT(b.df) AS n_boiler
       |  FROM grams g LEFT JOIN boiler b USING (gram)
       |  GROUP BY g.doc_id)
       |SELECT doc_id, n_grams, n_boiler,
       |  n_boiler * 1.0 / n_grams AS boiler_frac,
       |  CAST(n_boiler * 1.0 / n_grams < $BoilerKeepBelow AS INTEGER) AS keep
       |FROM pd
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t57: sequence packing — the concat-and-chunk shard assignment of a
  // pretraining pipeline: documents are laid end-to-end in a
  // deterministic order and cut into fixed token-budget shards; each doc
  // learns its byte-exact [start_offset, end_offset) in the packed
  // stream, its first/last shard, and whether it straddles a shard
  // boundary (the rows a loss-masking or doc-boundary-respecting loader
  // needs). Packing runs PER SOURCE — each source is an independently
  // packed stream — so the prefix sum is a partitionBy(source) window,
  // not a single-task global sort: partition-parallel at any corpus
  // size, with `source` (or any coarser shard key) as the parallelism
  // knob. All arithmetic is exact integer token counts; the oracle runs
  // the identical window.
  // -------------------------------------------------------------------
  private[operators] val PackBudget = 512L

  def t57SequencePack(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir)
      .select(col("doc_id"), col("source"), size(toks).cast(LongType).as("n_tokens"))
      .withColumn("end_offset", sum(col("n_tokens")).over(w))
      .withColumn("start_offset", col("end_offset") - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("start_offset"), col("end_offset"),
        // integer `div`, not double `/`: exact at any stream length
        expr(s"start_offset div $PackBudget").as("first_shard"),
        expr(s"(end_offset - 1) div $PackBudget").as("last_shard"))
      .withColumn("spans_boundary",
        (col("first_shard") =!= col("last_shard")).cast(IntegerType))
      .orderBy(col("doc_id"))
  }

  val t57SequencePackSql: String =
    s"""WITH m AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |packed AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_offset
       |  FROM m)
       |SELECT doc_id, source, n_tokens,
       |  end_offset - n_tokens AS start_offset, end_offset,
       |  (end_offset - n_tokens) // $PackBudget AS first_shard,
       |  (end_offset - 1) // $PackBudget AS last_shard,
       |  CAST((end_offset - n_tokens) // $PackBudget
       |    <> (end_offset - 1) // $PackBudget AS INTEGER) AS spans_boundary
       |FROM packed
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t58: tokenizer vocabulary induction — per language, the top-VocabK
  // tokens by corpus frequency with each rank's CUMULATIVE coverage of
  // the language's token mass (the Zipf curve a tokenizer-training run
  // reads to size its vocab). Shape: one explode → one (lang, term)
  // hash aggregate (map-side combined) → per-lang rank + running-sum
  // windows over the (small) aggregated term table — the windows run on
  // post-aggregate rows, never raw tokens, and partition by lang, so
  // parallelism is the language count (coarser key sets widen it at
  // scale). Counts are exact longs; the one division per row shares
  // identical operands across engines.
  // -------------------------------------------------------------------
  private val VocabK = 32

  def t58Vocab(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir)
      .select(col("lang"), explode(toks).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("cnt"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("term").asc)
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("lang"))
    counts
      .withColumn("rank", row_number().over(wRank))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wTot))
      .filter(col("rank") <= VocabK)
      .select(col("lang"), col("rank"), col("term"), col("cnt"),
        (col("cum") / col("total")).as("cum_frac"))
      .orderBy(col("lang"), col("rank"))
  }

  val t58VocabSql: String =
    s"""WITH counts AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
       |agg AS (
       |  SELECT lang, term, COUNT(*) AS cnt FROM counts GROUP BY lang, term),
       |ranked AS (
       |  SELECT lang, term, cnt,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY cnt DESC, term ASC) AS rank,
       |    CAST(SUM(cnt) OVER (PARTITION BY lang
       |      ORDER BY cnt DESC, term ASC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS total
       |  FROM agg)
       |SELECT lang, rank, term, cnt, cum * 1.0 / total AS cum_frac
       |FROM ranked
       |WHERE rank <= $VocabK
       |ORDER BY lang, rank""".stripMargin

  // -------------------------------------------------------------------
  // t59: BM25 ranking — top-3 terms per document by Okapi BM25, the
  // doc-length-normalized upgrade of t54's tf-idf and the scoring half
  // of a lexical retrieval engine (q50's stage 1 uses raw overlap; BM25
  // is what production rankers use). Same silhouette as t54: one
  // explode, tf / df hash aggregates, a per-doc top-k window — the df
  // join is broadcast-able (|vocab| rows) and dl derives from tf, so
  // the corpus is scanned ONCE.
  //
  // Determinism: ln() is snapped to integer nanos exactly as in t54.
  // The k1=1.2, b=0.75 length normalization reduces to the exact
  // rational  score = idf_nanos · tf · 44 · S / (20·tf·S + 6·S + 18·dl·N)
  // (S = corpus token count, N = doc count) — every factor is an
  // integer, but the product can pass 2^63 at corpus scale, so both
  // engines evaluate the SAME left-associated double expression over
  // exactly-representable integer inputs: IEEE ops on identical inputs
  // in identical order are bit-identical; no transcendental is left
  // outside the nano-snap.
  // -------------------------------------------------------------------
  private val Bm25K = 3

  def t59Bm25(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // two corpus scalars (plan literals, one tiny agg action — t54's
    // nDocs precedent): N docs, S total tokens
    val Array(nDocs, totToks) = d.agg(count(lit(1)), sum(size(toks)))
      .collect()(0).toSeq.map(_.toString.toLong).toArray
    val terms = d.select(col("doc_id"), explode(toks).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // Robertson idf with 0.5 smoothing, nano-snapped (cf. t54)
    val idfNanos = floor(log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      * lit(1e9) + lit(0.5)).cast(LongType)
    val score = col("idf_n").cast(DoubleType) * col("tf").cast(DoubleType) *
      lit(44.0) * lit(totToks.toDouble) /
      (lit(20.0) * col("tf").cast(DoubleType) * lit(totToks.toDouble) +
        lit(6.0) * lit(totToks.toDouble) +
        lit(18.0) * col("dl").cast(DoubleType) * lit(nDocs.toDouble)) / lit(1e9)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq.withColumn("idf_n", idfNanos).select(col("term"), col("idf_n")), "term")
      .join(dl, "doc_id")
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25K)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val t59Bm25Sql: String =
    s"""WITH n AS (SELECT COUNT(*) AS nd, SUM(len(string_split(text, ' '))) AS s
       |           FROM documents),
       |terms AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
       |dfreq AS (
       |  SELECT term, CAST(floor(ln((CAST((SELECT nd FROM n) AS DOUBLE) - COUNT(*) + 0.5)
       |      / (COUNT(*) + 0.5) + 1.0) * 1000000000.0 + 0.5) AS BIGINT) AS idf_n
       |  FROM tf GROUP BY term),
       |dl AS (
       |  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf,
       |    CAST(idf_n AS DOUBLE) * CAST(tf AS DOUBLE)
       |      * 44.0 * CAST((SELECT s FROM n) AS DOUBLE)
       |      / (20.0 * CAST(tf AS DOUBLE) * CAST((SELECT s FROM n) AS DOUBLE)
       |         + 6.0 * CAST((SELECT s FROM n) AS DOUBLE)
       |         + 18.0 * CAST(dl AS DOUBLE) * CAST((SELECT nd FROM n) AS DOUBLE))
       |      / 1000000000.0 AS score
       |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)),
       |ranked AS (
       |  SELECT doc_id, term, tf, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, term ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, term, tf, score
       |FROM ranked WHERE rank <= $Bm25K
       |ORDER BY doc_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // t60: Count-Min-Sketch heavy hitters — the fixed-memory frequency
  // sketch (Cormode-Muthukrishnan) next to q11c's KMV cardinality
  // sketch. A CMS is a d×w grid of counters; every (row, cell) increment
  // is additive, so the sketch state is ORDER-INDEPENDENT and builds as
  // one hash aggregate with full map-side combine: at 100 TB each
  // executor emits at most d·w = 1024 partial cells regardless of input
  // size — the canonical mergeable-sketch shape. Estimates are
  // min over rows of the hashed cell, never below the true count.
  //
  // The query reports the exact top-20 tokens (the ground truth, its
  // own global top-k) alongside their CMS estimates, so the oracle
  // hash-checks both the sketch arithmetic and the overestimate
  // invariant; hashing is the portable h60 gadget, so DuckDB builds the
  // bit-identical grid.
  // -------------------------------------------------------------------
  private val CmsRows = 4
  private val CmsWidth = 256
  private val CmsTopK = 20

  def t60HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val terms = docs(spark, dir).select(explode(toks).as("word"))
    val exact = terms.groupBy(col("word")).agg(count(lit(1)).as("n"))
    val top = exact.orderBy(col("n").desc, col("word").asc).limit(CmsTopK)
    def cell(r: Column, word: Column): Column =
      PortableHash.h60(concat(r.cast(StringType), lit(":"), word)) % CmsWidth
    val sketch = terms
      .select(explode(sequence(lit(0), lit(CmsRows - 1))).as("r"), col("word"))
      .groupBy(col("r"), cell(col("r"), col("word")).as("cell"))
      .agg(count(lit(1)).as("cnt"))
    // null-safe on cell, which is never null: an equi-join on it infers
    // isnotnull(cell), which Catalyst pushes below the sketch aggregate,
    // hashing every (row, token) pair twice
    top
      .crossJoin(spark.range(CmsRows).select(col("id").cast("int").as("r")))
      .withColumn("cell", cell(col("r"), col("word")))
      .join(sketch.select(col("r").as("sr"), col("cell").as("sc"), col("cnt")),
        col("r") === col("sr") && col("cell") <=> col("sc"))
      .groupBy(col("word"), col("n"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("word"), col("n"), col("cms_est"),
        (col("cms_est") - col("n")).as("overcount"))
      .orderBy(col("n").desc, col("word").asc)
  }

  val t60HeavyHittersSql: String = {
    val cellSql = s"${PortableHash.h60Sql("CAST(r AS VARCHAR) || ':' || word")} % $CmsWidth"
    s"""WITH terms AS (
       |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |exact AS (
       |  SELECT word, COUNT(*) AS n FROM terms GROUP BY word),
       |top AS (
       |  SELECT word, n FROM exact ORDER BY n DESC, word ASC LIMIT $CmsTopK),
       |sketch AS (
       |  SELECT r, $cellSql AS cell, COUNT(*) AS cnt
       |  FROM terms, (SELECT unnest(range($CmsRows)) AS r)
       |  GROUP BY 1, 2),
       |probed AS (
       |  SELECT word, n, $cellSql AS cell, r
       |  FROM top, (SELECT unnest(range($CmsRows)) AS r))
       |SELECT p.word, p.n, MIN(s.cnt) AS cms_est, MIN(s.cnt) - p.n AS overcount
       |FROM probed p JOIN sketch s ON p.r = s.r AND p.cell = s.cell
       |GROUP BY p.word, p.n
       |ORDER BY n DESC, word ASC""".stripMargin
  }

  // -------------------------------------------------------------------
  // t61: bigram language-model scoring — the CCNet/Gopher-style
  // "perplexity filter" reduced to its Spark shape: train an add-one-
  // smoothed bigram LM on the corpus itself (two hash aggregates), then
  // score every document by its mean bigram log-probability and gate on
  // a threshold. This is the quality filter real pipelines run with a
  // KenLM model; here the model IS a DataFrame, so train + score are
  // plan stages instead of a sidecar binary.
  //
  // Scale shape: the model tables are vocabulary-bounded (|bigrams| ≤
  // V², orders of magnitude below corpus scale), so the scoring join
  // hashes corpus pairs against a small build side — AQE broadcasts it
  // when it fits. Train and score are two passes over the exploded
  // pairs; that is inherent to "score against corpus statistics", same
  // as t54's df pass. No window functions, no sort: three hash
  // aggregates and one equi-join.
  //
  // Determinism: each distinct bigram's log-prob is nano-snapped ONCE
  // (t54's fixed-point ln discipline) from exact-integer counts; per-doc
  // sums then run in pure BIGINT, and the final mean is the same
  // left-associated double expression in both engines.
  // -------------------------------------------------------------------
  private val LmThresholdNanos = -4_000_000_000L // mean logprob ≥ −4.0 keeps

  def t61LmScore(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // adjacent-pair grams; total on sub-2-token docs (w2 null → filtered),
    // the kgrams discipline
    val grams = filter(
      transform(sequence(lit(1), greatest(size(toks) - 1, lit(1))),
        i => struct(try_element_at(toks, i).as("w1"),
          try_element_at(toks, i + lit(1)).as("w2"))),
      s => s.getField("w2").isNotNull)
    // the exploded pair stream feeds BOTH the model's c2 aggregate and
    // the scoring join — localCheckpoint materializes the compute-dense
    // gram explosion once instead of twice (the d55/d57 shared-frame
    // idiom). At cluster scale the same seam is a persisted shuffle or a
    // cached staging table between the train and score passes.
    val pairs = d.select(col("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .graftCheckpoint(true)
    // vocab size for smoothing — one corpus scalar (t59's nDocs precedent)
    val vocab = d.select(explode(toks).as("w")).agg(countDistinct(col("w")))
      .collect()(0).getLong(0)
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    // P(w2|w1) = (c2+1)/(c1+V), ln nano-snapped per DISTINCT bigram
    val model = c2.join(c1, "w1").withColumn("lp_n",
      floor(log((col("c2") + 1).cast(DoubleType) / (col("c1") + lit(vocab)).cast(DoubleType))
        * lit(1e9) + lit(0.5)).cast(LongType))
      .select(col("w1"), col("w2"), col("lp_n"))
    val scored = pairs.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_n")).as("sum_n"))
    // left join keeps bigram-less docs total (null score, keep=false)
    d.select(col("doc_id")).distinct()
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("sum_n").cast(DoubleType) / col("n_bigrams").cast(DoubleType) / lit(1e9), 6)
          .as("avg_logprob"),
        coalesce(col("sum_n") >= lit(LmThresholdNanos) * col("n_bigrams"), lit(false))
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, w1, w2): every adjacent token pair of each document. */
  private val docBigramsCtesSql: String =
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pr AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS g
       |  FROM tk),
       |pairs AS (
       |  SELECT doc_id, struct_extract(g, 'w1') AS w1, struct_extract(g, 'w2') AS w2
       |  FROM pr)""".stripMargin

  /** t61's add-one bigram `model` (w1, w2, lp_n) over `pairs`, with
    * `vocab` its vocabulary size; Curation's DoReMi reuses it.
    */
  private[operators] val addOneBigramModelCtesSql: String =
    s"""vocab AS (
       |  SELECT COUNT(DISTINCT w) AS v FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
       |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2),
       |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
       |model AS (
       |  SELECT c2.w1, c2.w2,
       |    CAST(floor(ln(CAST(c2 + 1 AS DOUBLE)
       |      / CAST(c1 + (SELECT v FROM vocab) AS DOUBLE)) * 1000000000.0 + 0.5)
       |      AS BIGINT) AS lp_n
       |  FROM c2 JOIN c1 ON c2.w1 = c1.w1)""".stripMargin

  val t61LmScoreSql: String =
    s"""WITH $docBigramsCtesSql,
       |$addOneBigramModelCtesSql,
       |scored AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lp_n) AS sum_n
       |  FROM pairs JOIN model USING (w1, w2) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  ROUND(CAST(sum_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1000000000.0, 6)
       |    AS avg_logprob,
       |  COALESCE(sum_n >= $LmThresholdNanos * n_bigrams, false) AS keep
       |FROM (SELECT DISTINCT doc_id FROM documents) d
       |LEFT JOIN scored USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t62: PII detection + redaction — the scrub pass every training
  // corpus runs before anything else ships: count and mask emails,
  // IPv4 addresses, and phone numbers. Pure per-row regex map work —
  // scan-bound, zero shuffle, the t50/t51 silhouette — with literal
  // patterns, so Spark compiles each regex once per task inside the
  // codegen'd RegExpReplace/RegExpCount kernels (never a UDF).
  //
  // The synthetic corpus is PII-free word salad by construction, so the
  // kernel runs over a deterministic PII-bearing projection of `events`
  // (both engines materialize the identical text from the same integer
  // columns — no synthesized inputs, no RNG). PiiSpec additionally
  // plants adversarial strings: multiple PII per line, PII at string
  // edges, '@' without a domain, and asserts redaction idempotence.
  //
  // Pattern discipline: RE2-compatible regexes only (no backrefs, no
  // lookaround) so Java regex (Spark) and RE2 (DuckDB) agree; redaction
  // order is email → IP → phone so the email pass consumes '@host.com'
  // before the IP pass can see dotted digits inside it.
  // -------------------------------------------------------------------
  private val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhonePat = "\\+1-555-\\d{4}"

  /** The redaction kernel over a text column — email → IP → phone. */
  private[graft] def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPat, "<EMAIL>"),
        Ipv4Pat, "<IP>"),
      PhonePat, "<PHONE>")

  def t62PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val line = concat(
      lit("user"), col("user_id").cast(StringType),
      lit(" logged in from 10."), (col("user_id") % 256).cast(StringType),
      lit("."), (col("event_id") % 256).cast(StringType),
      lit("."), ((col("event_id") * 7) % 256).cast(StringType),
      lit(" contact user"), col("user_id").cast(StringType),
      lit("@mail"), (col("event_id") % 10).cast(StringType),
      lit(".com or +1-555-"), lpad((col("event_id") % 10000).cast(StringType), 4, "0"),
      lit(" re "), col("event_type"))
    Tables.events(spark, dir)
      .filter(col("event_id") < 200)
      .withColumn("line", line)
      .select(col("event_id"),
        regexp_count(col("line"), lit(EmailPat)).as("n_email"),
        regexp_count(col("line"), lit(Ipv4Pat)).as("n_ip"),
        regexp_count(col("line"), lit(PhonePat)).as("n_phone"),
        redact(col("line")).as("redacted"))
      .orderBy(col("event_id"))
  }

  val t62PiiRedactSql: String = {
    // the patterns interpolate into single-quoted SQL literals, where
    // DuckDB keeps backslashes literal — no re-escaping needed
    s"""WITH l AS (
       |  SELECT event_id,
       |    concat('user', CAST(user_id AS VARCHAR),
       |      ' logged in from 10.', CAST(user_id % 256 AS VARCHAR),
       |      '.', CAST(event_id % 256 AS VARCHAR),
       |      '.', CAST((event_id * 7) % 256 AS VARCHAR),
       |      ' contact user', CAST(user_id AS VARCHAR),
       |      '@mail', CAST(event_id % 10 AS VARCHAR),
       |      '.com or +1-555-', lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0'),
       |      ' re ', event_type) AS line
       |  FROM events WHERE event_id < 200)
       |SELECT event_id,
       |  CAST(len(regexp_extract_all(line, '$EmailPat')) AS INT) AS n_email,
       |  CAST(len(regexp_extract_all(line, '$Ipv4Pat')) AS INT) AS n_ip,
       |  CAST(len(regexp_extract_all(line, '$PhonePat')) AS INT) AS n_phone,
       |  regexp_replace(regexp_replace(regexp_replace(line,
       |    '$EmailPat', '<EMAIL>', 'g'),
       |    '$Ipv4Pat', '<IP>', 'g'),
       |    '$PhonePat', '<PHONE>', 'g') AS redacted
       |FROM l
       |ORDER BY event_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // t63: text normalization — the canonicalization pass that runs before
  // every dedup/quality stage in a curation pipeline: Unicode NFC (a
  // custom codegen'd Catalyst expression, [[graft.functions.NfcNormalize]]
  // — Spark has no built-in), lowercasing, and whitespace collapsing.
  //
  // The synthetic corpus is ALREADY canonical (lowercase, single-spaced
  // ASCII), so running the normalizer on it directly would oracle-check
  // an identity. Instead the query first derives a deterministic "messy"
  // projection — per token, an md5-keyed choice of uppercasing and
  // double-spacing, the same planted-input trick t62 uses for PII — and
  // then normalizes it back. The oracle recomputes both directions in
  // DuckDB (nfc_normalize/lower/regexp_replace), and NormalizeSpec pins
  // the round-trip property norm(dirty(text)) == text on every doc plus
  // the NFC non-identity cases on planted decomposed Unicode.
  //
  // Scale: per-row string work, no shuffle beyond the input-spreading
  // repartition — scan-bound like the rest of the t5x family, and the
  // NFC expression stays inside whole-stage codegen.
  // ---------------------------------------------------------------------
  def t63Normalize(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextFns.register(spark)
    // One md5 per token (not two): materialize the digest next to the
    // token in an inner transform, then probe two bytes of it. Values are
    // identical to the two-call form, so the oracle SQL is unchanged;
    // this halves the dominant hash cost of the suite's most expensive
    // scan-bound query.
    val dirty = concat_ws("", transform(
      transform(toks, t => struct(t.as("t"), md5(t).as("h"))),
      s => concat(
        when(ascii(substring(s("h"), 1, 1)) % 2 === 0, upper(s("t")))
          .otherwise(s("t")),
        when(ascii(substring(s("h"), 2, 1)) % 2 === 0, lit("  "))
          .otherwise(lit(" ")))))
    docs(spark, dir)
      .withColumn("dirty", dirty)
      .select(col("doc_id"),
        length(col("dirty")).cast(LongType).as("n_dirty"),
        graft.functions.TextFns.nfc(
          trim(regexp_replace(lower(col("dirty")), " +", " "))).as("norm"))
      .orderBy(col("doc_id"))
  }

  val t63NormalizeSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_aggregate(list_transform(string_split(text, ' '),
      |      t -> (CASE WHEN ascii(substr(md5(t), 1, 1)) % 2 = 0
      |              THEN upper(t) ELSE t END ||
      |            CASE WHEN ascii(substr(md5(t), 2, 1)) % 2 = 0
      |              THEN '  ' ELSE ' ' END)),
      |      'string_agg', '') AS dirty
      |  FROM documents)
      |SELECT doc_id, CAST(length(dirty) AS BIGINT) AS n_dirty,
      |  nfc_normalize(trim(regexp_replace(lower(dirty), ' +', ' ', 'g'))) AS norm
      |FROM d ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t64: positional inverted-index build — the index-construction step
  // under t59's BM25 ranking: one posting per (term, doc, position).
  // The postings stream is corpus-sized (one row per token — posexplode,
  // the same explode discipline as t54/t59), but the AGGREGATED index
  // row set is vocabulary-bounded: per term it carries document
  // frequency, collection frequency, the doc-id posting range, and an
  // exact positional checksum (Σ doc_id·131 + pos) that pins every
  // position without materializing posting lists into the output. At
  // scale the real index would write the per-term posting lists as
  // sorted parquet partitions (the Storage bucketing machinery); the
  // checksum keeps THIS query's output bounded while still
  // hash-verifying position extraction end-to-end.
  //
  // Int64 headroom: checksum terms are ≤ doc_id·131 + |doc| — at 10^9
  // docs × 10^4 tokens that sum needs ~2^77, so the production form
  // sums in DECIMAL(38,0) (c75's discipline); at the gated SFs int64 is
  // exact and both engines agree.
  // ---------------------------------------------------------------------
  def t64InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val postings = docs(spark, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos0", "term")))
      .select(col("doc_id"), (col("pos0") + lit(1L)).as("pos"), col("term"))
    postings.groupBy(col("term"))
      .agg(
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("cf"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("doc_id") * lit(131L) + col("pos")).as("pos_checksum"))
      .orderBy(col("cf").desc, col("term"))
  }

  val t64InvertedIndexSql: String =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |pr AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
      |    i -> struct_pack(pos := i, term := t[i]))) AS g
      |  FROM tk),
      |posting AS (
      |  SELECT doc_id, struct_extract(g, 'pos') AS pos,
      |    struct_extract(g, 'term') AS term
      |  FROM pr)
      |SELECT term,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
      |  COUNT(*) AS cf,
      |  MIN(doc_id) AS first_doc,
      |  MAX(doc_id) AS last_doc,
      |  CAST(SUM(doc_id * 131 + pos) AS BIGINT) AS pos_checksum
      |FROM posting
      |GROUP BY term
      |ORDER BY cf DESC, term""".stripMargin

  // -------------------------------------------------------------------
  // t65: PMI collocation mining — "which adjacent word pairs co-occur
  // far above chance", the phrase-detection pass (word2vec-style
  // phrase merging, terminology extraction) that runs after t63
  // normalization and before tokenizer training (t58).
  //   PMI(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) )
  //              = ln( c12 · T · T / (P · c1 · c2) )
  // with c12 = adjacent-pair count, c1/c2 = unigram counts, P = total
  // pairs, T = total tokens. Everything before the single ln is exact
  // integer counts from two hash aggregates (pairs, unigrams) — both
  // vocabulary-bounded after the map-side combine; the ratio is
  // assembled with the identical left-associated double expression in
  // both engines and the ln is nano-snapped ONCE per surviving pair
  // (t54's discipline). Min-count ≥ 5 prunes the noise floor BEFORE the
  // join back to unigram counts, and the output is the global top-20 on
  // the (pmi_n DESC, w1, w2) total order — a bounded result regardless
  // of corpus size, ranked without any window (orderBy + limit →
  // TakeOrderedAndProject, no single-partition sort of the vocabulary).
  // -------------------------------------------------------------------
  private val PmiMinCount = 5L
  private val PmiTopK = 20

  def t65PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val grams = filter(
      transform(sequence(lit(1), greatest(size(toks) - 1, lit(1))),
        i => struct(try_element_at(toks, i).as("w1"),
          try_element_at(toks, i + lit(1)).as("w2"))),
      s => s.getField("w2").isNotNull)
    val pairs = d.select(explode(grams).as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
    val uni = d.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = d.select(
        (size(toks) - 1).cast(LongType).as("np"),
        size(toks).cast(LongType).as("nt"))
      .agg(sum(col("np")).as("p_total"), sum(col("nt")).as("t_total"))
    val c12 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= PmiMinCount)
    c12
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_n",
        floor(log(col("c12").cast(DoubleType) * col("t_total").cast(DoubleType)
            * col("t_total").cast(DoubleType)
          / (col("p_total").cast(DoubleType) * col("c1").cast(DoubleType)
            * col("c2").cast(DoubleType)))
          * lit(1e9) + lit(0.5)).cast(LongType))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"), col("pmi_n"))
      .orderBy(col("pmi_n").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  val t65PmiCollocationsSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pr AS (
       |  SELECT unnest(list_transform(range(1, len(t)),
       |    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS g
       |  FROM tk),
       |pairs AS (
       |  SELECT struct_extract(g, 'w1') AS w1, struct_extract(g, 'w2') AS w2
       |  FROM pr WHERE struct_extract(g, 'w2') IS NOT NULL),
       |uni AS (
       |  SELECT w, COUNT(*) AS c FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |totals AS (
       |  SELECT SUM(len(t) - 1) AS p_total, SUM(len(t)) AS t_total FROM tk),
       |c12 AS (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2
       |  HAVING COUNT(*) >= $PmiMinCount)
       |SELECT c12.w1, c12.w2, c12, c1.c AS c1, c2.c AS c2,
       |  CAST(floor(ln(CAST(c12 AS DOUBLE) * CAST(t_total AS DOUBLE)
       |      * CAST(t_total AS DOUBLE)
       |    / (CAST(p_total AS DOUBLE) * CAST(c1.c AS DOUBLE)
       |      * CAST(c2.c AS DOUBLE)))
       |    * 1000000000.0 + 0.5) AS BIGINT) AS pmi_n
       |FROM c12
       |JOIN uni c1 ON c1.w = c12.w1
       |JOIN uni c2 ON c2.w = c12.w2
       |CROSS JOIN totals
       |ORDER BY pmi_n DESC, w1, w2
       |LIMIT $PmiTopK""".stripMargin

  // -------------------------------------------------------------------
  // t66: Zipf-law fit — per language, the OLS slope of ln(freq) against
  // ln(rank) over the top-ZipfTopR tokens (a natural corpus should sit
  // near slope ≈ −1; a deviation flags templated/synthetic text — the
  // corpus-health diagnostic next to t58's coverage curve). Shape: t58's
  // exact (lang, term) count aggregate → per-lang rank window over the
  // vocabulary-sized table → q56's moment-sum regression over ≤ ZipfTopR
  // points per language.
  //
  // Determinism: both ln() applications are snapped to integer MICRO
  // units (not t54's nanos: x·y products of two ~1.2e7-micro lns must
  // stay < 2^63 across the moment sums — nano-units would overflow at
  // ~100 points; micros leave 1e5 headroom) and the slope/intercept
  // algebra is the identical left-associated double expression over
  // those exact integers in both engines.
  // -------------------------------------------------------------------
  private val ZipfTopR = 100

  def t66ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir)
      .select(col("lang"), explode(toks).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("cnt"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("term").asc)
    val pts = counts
      .withColumn("rank", row_number().over(wRank).cast(LongType))
      .filter(col("rank") <= ZipfTopR)
      .select(col("lang"),
        floor(log(col("rank").cast(DoubleType)) * lit(1000000.0) + lit(0.5))
          .cast(LongType).as("x"),
        floor(log(col("cnt").cast(DoubleType)) * lit(1000000.0) + lit(0.5))
          .cast(LongType).as("y"))
    val m = pts.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val dn = col("n_terms").cast(DoubleType)
    def d(c: String) = col(c).cast(DoubleType)
    val slope = (dn * d("sxy") - d("sx") * d("sy")) /
      (dn * d("sxx") - d("sx") * d("sx"))
    m.select(col("lang"), col("n_terms"),
        slope.as("slope"),
        ((d("sy") - slope * d("sx")) / dn / lit(1000000.0)).as("intercept_ln"))
      .orderBy(col("lang"))
  }

  // -------------------------------------------------------------------
  // t80: Heaps'-law vocabulary-growth fit — t66's companion diagnostic:
  // V(N) ≈ k·N^β over the corpus read in the deterministic (doc_id,
  // position) order. A natural corpus fits β ≈ 0.4-0.6; a synthetic or
  // heavily-deduplicated one flattens early — the growth curve is the
  // capacity-planning input for tokenizer vocab size and hash sizing.
  //
  // Shape: global token positions come from `prefixSumByRange` over the
  // per-doc lengths (offset = running total − own length; no
  // single-reducer window), each word's FIRST position is a
  // map-side-combined min-aggregate (the d58 election discipline:
  // vocabulary-sized state, never a sort), V at the 10 checkpoint
  // prefixes is one broadcast join against the vocab frame, and the
  // log-log OLS runs on 10 rows via t66's micro-snapped integer moment
  // sums (no double ever accumulates). The extra consumer of the slice
  // frame (the corpus-total scalar) reads only the boundary-independent
  // global sum, so it sits outside the reuse-pin dependency.
  // -------------------------------------------------------------------
  private val HeapsCheckpoints = 10L

  def t80HeapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), toks.as("ts"))
      .withColumn("n_toks", size(col("ts")).cast(LongType))
    // r18: run the prefix sum over the NARROW (doc_id, n_toks) frame and
    // checkpoint the doc-sized offsets — the token ARRAYS no longer ride
    // the slice repartition + two window sorts (guide §8: decide on a
    // lightweight proxy, move the payload once), and the offsets frame's
    // three consumers (explode join, corpus total) stop re-deriving the
    // whole chain (16 scans / 86 Exchanges in the composed-bare plan,
    // plans/r18/t80_heaps_law_before.txt). Values unchanged: cum is the
    // same running total, tot the same max.
    val cum = Relational.prefixSumByRange(
        d.select(col("doc_id"), col("n_toks")), Seq.empty, Seq(col("doc_id")),
        Seq("cum" -> col("n_toks")))
      .graftCheckpoint(true)
    val first = d
      .join(cum.select(col("doc_id"), (col("cum") - col("n_toks")).as("off")), "doc_id")
      .select(col("off"), posexplode(col("ts")))
      .select((col("off") + col("pos") + 1L).as("gp"), col("col").as("w"))
      .groupBy(col("w")).agg(min(col("gp")).as("fp"))
    val tot = cum.agg(max(col("cum")).as("t"))
    val chk = tot
      .select(explode(sequence(lit(1L), lit(HeapsCheckpoints))).as("c"), col("t"))
      .withColumn("nc", expr("(c * t) div 10"))
    val pts = first.crossJoin(broadcast(chk))
      .filter(col("fp") <= col("nc"))
      .groupBy(col("c"), col("nc")).agg(count(lit(1)).as("vc"))
      .select(col("c"), col("nc"), col("vc"),
        floor(log(col("nc").cast(DoubleType)) * lit(1000000.0) + lit(0.5))
          .cast(LongType).as("x"),
        floor(log(col("vc").cast(DoubleType)) * lit(1000000.0) + lit(0.5))
          .cast(LongType).as("y"))
    val m = pts.agg(count(lit(1)).as("np"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    def dd(c: String) = col(c).cast(DoubleType)
    val beta = (dd("np") * dd("sxy") - dd("sx") * dd("sy")) /
      (dd("np") * dd("sxx") - dd("sx") * dd("sx"))
    pts.crossJoin(broadcast(m))
      .select(col("c"), col("nc").as("n_tokens"), col("vc").as("vocab"),
        round(beta, 6).as("beta"),
        round((dd("sy") - beta * dd("sx")) / dd("np") / lit(1000000.0), 6).as("ln_k"))
      .orderBy(col("c"))
  }

  val t80HeapsLawSql: String = {
    val beta = "(CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, ts, n_toks,
       |    CAST(SUM(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM d),
       |g AS (
       |  SELECT (cum - n_toks) + i AS gp, ts[i] AS w
       |  FROM cum, unnest(range(1, len(ts) + 1)) r(i)),
       |first AS (SELECT w, MIN(gp) AS fp FROM g GROUP BY 1),
       |tot AS (SELECT MAX(cum) AS t FROM cum),
       |chk AS (
       |  SELECT c, (c * t) // 10 AS nc
       |  FROM (SELECT unnest(range(1, 11)) AS c) CROSS JOIN tot),
       |pts AS (
       |  SELECT c, nc, COUNT(*) AS vc,
       |    CAST(floor(ln(CAST(nc AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
       |    CAST(floor(ln(CAST(COUNT(*) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y
       |  FROM first CROSS JOIN chk
       |  WHERE fp <= nc
       |  GROUP BY c, nc),
       |m AS (
       |  SELECT COUNT(*) AS np, CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx
       |  FROM pts)
       |SELECT c, nc AS n_tokens, vc AS vocab,
       |  ROUND($beta, 6) AS beta,
       |  ROUND((CAST(sy AS DOUBLE) - ($beta) * CAST(sx AS DOUBLE))
       |    / CAST(np AS DOUBLE) / 1000000.0, 6) AS ln_k
       |FROM pts CROSS JOIN m
       |ORDER BY c""".stripMargin
  }

  val t66ZipfSlopeSql: String =
    s"""WITH counts AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
       |agg AS (
       |  SELECT lang, term, COUNT(*) AS cnt FROM counts GROUP BY lang, term),
       |pts AS (
       |  SELECT lang,
       |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
       |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y
       |  FROM (
       |    SELECT lang, cnt,
       |      ROW_NUMBER() OVER (PARTITION BY lang
       |        ORDER BY cnt DESC, term ASC) AS rank
       |    FROM agg)
       |  WHERE rank <= $ZipfTopR),
       |m AS (
       |  SELECT lang, COUNT(*) AS n_terms,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx
       |  FROM pts GROUP BY lang),
       |d AS (
       |  SELECT lang, n_terms, CAST(n_terms AS DOUBLE) AS dn,
       |    CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy,
       |    CAST(sxy AS DOUBLE) AS dsxy, CAST(sxx AS DOUBLE) AS dsxx
       |  FROM m)
       |SELECT lang, n_terms,
       |  (dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx) AS slope,
       |  (dsy - (dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx) * dsx)
       |    / dn / 1000000.0 AS intercept_ln
       |FROM d ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // t67: OOV-rate audit — per val/test doc, the fraction of token
  // INSTANCES outside a FIXED-BUDGET vocabulary induced from the train
  // split (top-OovVocabV tokens by train frequency, (cnt DESC, term
  // ASC) — t58's ranking): the eval-readiness check before tokenizer/LM
  // training. The budget is what makes the audit real — every real
  // tokenizer vocab is size-capped, and this corpus's generator shares
  // one 31-token vocabulary across all docs, so a coverage-only OOV
  // definition is structurally zero at every SF.
  //
  // Scale: one corpus fan-out; the vocabulary is budget-sized and the
  // miss test is a LEFT ANTI join against it (semi-join shape — at
  // 100 TB this is the bloom/broadcast-able side, d54's territory);
  // per-doc rollups are doc-sized. The one division is exact-integer
  // operands.
  // -------------------------------------------------------------------
  private val OovVocabV = 16

  def t67OovRate(spark: SparkSession, dir: String): DataFrame = {
    val sp = docs(spark, dir)
      .withColumn("h", PortableHash.h60(col("doc_id")))
      .withColumn("split",
        when(col("h") < Sampling.TrainBound, "train")
          .when(col("h") < Sampling.ValBound, "val")
          .otherwise("test"))
    val tok = sp.select(col("doc_id"), col("split"), explode(toks).as("term"))
    // Top-V of the FULL train vocabulary: `orderBy().limit(V)` plans as
    // TakeOrderedAndProject (per-partition top-V heaps + driver merge of
    // 32·V rows) — the row_number() formulation it replaces sorted the
    // whole vocabulary (~1e8 terms at 100 TB) on ONE partition. The
    // (cnt DESC, term ASC) total order makes the two formulations
    // row-identical; VERDICT r15 item 4 / PlanShapeSpec pin.
    val vocab = tok.filter(col("split") === "train")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(OovVocabV)
      .select(col("term"))
    val ev = tok.filter(col("split") =!= "train")
    val oov = ev.join(vocab, Seq("term"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_oov"))
    ev.groupBy(col("doc_id"), col("split")).agg(count(lit(1)).as("n_tokens"))
      .join(oov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(coalesce(col("n_oov"), lit(0L)) / col("n_tokens"), 6).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  val t67OovRateSql: String =
    s"""WITH sp AS (
       |  SELECT doc_id, text,
       |    CASE WHEN ${PortableHash.h60Sql("doc_id")} < ${Sampling.TrainBound}
       |           THEN 'train'
       |         WHEN ${PortableHash.h60Sql("doc_id")} < ${Sampling.ValBound}
       |           THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |tok AS (SELECT doc_id, split, unnest(string_split(text, ' ')) AS term FROM sp),
       |vocab AS (
       |  SELECT term FROM (
       |    SELECT term, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term ASC) AS vrn
       |    FROM tok WHERE split = 'train' GROUP BY term)
       |  WHERE vrn <= $OovVocabV),
       |ev AS (SELECT doc_id, split, term FROM tok WHERE split <> 'train'),
       |oov AS (
       |  SELECT doc_id, COUNT(*) AS n_oov FROM ev
       |  WHERE term NOT IN (SELECT term FROM vocab) GROUP BY doc_id),
       |tot AS (SELECT doc_id, split, COUNT(*) AS n_tokens FROM ev GROUP BY 1, 2)
       |SELECT t.doc_id, t.split, t.n_tokens,
       |  CAST(COALESCE(o.n_oov, 0) AS BIGINT) AS n_oov,
       |  ROUND(COALESCE(o.n_oov, 0) / t.n_tokens, 6) AS oov_rate
       |FROM tot t LEFT JOIN oov o USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t68: one BPE merge round — the inner loop of byte-pair-encoding
  // tokenizer training, run as a distributed op: count adjacent symbol
  // pairs weighted by corpus word frequency, elect the most frequent
  // pair ((count DESC, pair ASC) — the deterministic tie-break real BPE
  // trainers fix by insertion order), and apply the merge to every word
  // spelling. The scale insight this query IS: after one corpus scan
  // collapses text to (word, count), everything — pair stats, election,
  // re-spelling — lives on the VOCABULARY, so a 100 TB corpus trains
  // each round on kilobytes of state. The merge itself is left-to-right
  // non-overlapping literal replace on the space-joined spelling —
  // `replace()` has identical greedy semantics in both engines, which
  // is exactly BPE's application order.
  // -------------------------------------------------------------------
  def t68BpeMergeRound(spark: SparkSession, dir: String): DataFrame = {
    val words = docs(spark, dir)
      .select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val chars = words.withColumn("cs", filter(split(col("w"), ""), x => x =!= ""))
    // zip_with over shifted slices: a 1-symbol word yields empty slices
    // (sequence(1, size-1) would DESCEND to [1, 0] there and fault
    // element_at)
    val pairs = chars
      .select(col("cnt"), explode(expr(
        "zip_with(slice(cs, 1, size(cs) - 1), slice(cs, 2, size(cs) - 1), " +
          "(a, b) -> concat(a, ' ', b))")).as("p"))
      .groupBy(col("p")).agg(sum(col("cnt")).as("pc"))
    val top = pairs.orderBy(col("pc").desc, col("p").asc).limit(1)
      .select(col("p").as("pair"), col("pc").as("pair_count"))
    chars.crossJoin(broadcast(top))
      .withColumn("spaced", array_join(col("cs"), " "))
      .withColumn("merged", expr("replace(spaced, pair, replace(pair, ' ', ''))"))
      .select(col("w").as("word"), col("cnt"), col("pair"), col("pair_count"),
        size(col("cs")).cast(LongType).as("n_symbols_before"),
        size(split(col("merged"), " ")).cast(LongType).as("n_symbols_after"),
        col("merged").as("spelling_after"))
      .orderBy(col("word"))
  }

  val t68BpeMergeRoundSql: String =
    """WITH words AS (
      |  SELECT term AS w, COUNT(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY 1),
      |chars AS (SELECT w, cnt, string_split(w, '') AS cs FROM words),
      |pairs AS (
      |  SELECT cs[i] || ' ' || cs[i+1] AS p, CAST(SUM(cnt) AS BIGINT) AS pc
      |  FROM chars, unnest(range(1, len(cs))) r(i)
      |  GROUP BY 1),
      |top AS (
      |  SELECT p AS pair, pc AS pair_count FROM pairs
      |  ORDER BY pc DESC, p ASC LIMIT 1)
      |SELECT w AS word, cnt, pair, pair_count,
      |  CAST(len(cs) AS BIGINT) AS n_symbols_before,
      |  CAST(len(string_split(
      |    replace(array_to_string(cs, ' '), pair, replace(pair, ' ', '')), ' '))
      |    AS BIGINT) AS n_symbols_after,
      |  replace(array_to_string(cs, ' '), pair, replace(pair, ' ', ''))
      |    AS spelling_after
      |FROM chars CROSS JOIN top
      |ORDER BY word""".stripMargin

  // -------------------------------------------------------------------
  // t79: multi-round BPE training — t68's single merge round iterated
  // BpeRounds times as ONE declarative plan: round k's pair statistics
  // run over the spellings round k-1 produced, the elected pair (count
  // DESC, pair ASC — the insertion-order tie-break) joins back as a
  // 1-row broadcast, and the merge applies as a greedy left-to-right
  // literal replace. Once rounds can produce MULTI-character symbols, a
  // bare space-join is no longer sound — pair "b c" would false-match
  // inside the spelling "ab c" — so every symbol is sentinel-wrapped
  // ("<a> <b>"; merged "<ab>"): a pattern can then only align on symbol
  // boundaries, and because the pattern consumes no separator beyond
  // its own symbols, iterated literal replace IS exact greedy BPE
  // application even through runs ("<a> <a> <a> <a>" → "<aa> <aa>").
  // (Assumes '<'/'>' absent from the token alphabet, true of this
  // corpus; a production run would pick unused codepoints.)
  //
  // Scale shape (t68's, compounded): the corpus collapses to (word,
  // cnt) in the ONE corpus scan; the vocabulary frame is
  // localCheckpoint'd because all 2·R downstream branches (pair stats +
  // symbol counts per round) re-read it, and every round's work —
  // stats, election, re-spelling — is vocabulary-sized. Output is the
  // R-row merge TABLE (round, pair, pair_count, corpus symbols after),
  // the artifact a tokenizer trainer persists per round.
  // -------------------------------------------------------------------
  private val BpeRounds = 3

  /** The t79 training fold: (final merged word-type vocabulary, per-round
    * merge reports). t79 publishes the reports; t81 applies the final
    * vocabulary back to the corpus.
    */
  private def bpeTrainFold(spark: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val vocab = docs(spark, dir)
      .select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("spaced", array_join(
        transform(filter(split(col("w"), ""), x => x =!= ""),
          c => concat(lit("<"), c, lit(">"))), " "))
      .graftCheckpoint()
    (1 to BpeRounds).foldLeft(
      (vocab, Seq.empty[DataFrame])) { case ((prev, outs), r) =>
      val pairs = prev
        .withColumn("cs", split(col("spaced"), " "))
        .select(col("cnt"), explode(expr(
          "zip_with(slice(cs, 1, size(cs) - 1), slice(cs, 2, size(cs) - 1), " +
            "(a, b) -> concat(a, ' ', b))")).as("p"))
        .groupBy(col("p")).agg(sum(col("cnt")).as("pc"))
      val top = pairs.orderBy(col("pc").desc, col("p").asc).limit(1)
        .select(col("p").as("pair"), col("pc").as("pair_count"))
      // r18: checkpoint each round's merged vocabulary (t98's
      // per-round-checkpoint discipline brought back to the 3-round
      // fold) — composed bare, round k's replace chain re-executed for
      // every downstream consumer (next round's pair stats AND merge AND
      // report), ~2^R duplicated vocabulary passes by round R
      val merged = prev.crossJoin(broadcast(top))
        .withColumn("spaced", expr("replace(spaced, pair, replace(pair, '> <', ''))"))
        .graftCheckpoint(true)
      val report = merged
        .groupBy(col("pair"), col("pair_count"))
        .agg(sum(col("cnt") * size(split(col("spaced"), " "))).as("syms_after"))
        .select(lit(r).as("round"),
          regexp_replace(col("pair"), "[<>]", "").as("pair"),
          col("pair_count"), col("syms_after"))
      (merged.select(col("w"), col("cnt"), col("spaced")), outs :+ report)
    }
  }

  def t79BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val rounds = bpeTrainFold(spark, dir)._2
    rounds.reduce(_.unionAll(_)).orderBy(col("round"))
  }

  /** The t79 training CTE chain (words → s0 → p/t/s/o per round) —
    * shared by the t79 and t81 oracles so encode is checked against the
    * SAME merge derivation it trains on.
    */
  private val bpeStagesSql: String = {
    def stage(k: Int): String = {
      val prev = s"s${k - 1}"
      s"""p$k AS (
         |  SELECT cs[i] || ' ' || cs[i+1] AS p, CAST(SUM(cnt) AS BIGINT) AS pc
         |  FROM (SELECT cnt, string_split(spaced, ' ') AS cs FROM $prev),
         |       unnest(range(1, len(cs))) r(i)
         |  GROUP BY 1),
         |t$k AS (SELECT p AS pair, pc AS pair_count FROM p$k
         |        ORDER BY pc DESC, p ASC LIMIT 1),
         |s$k AS (SELECT w, cnt, replace(spaced, pair, replace(pair, '> <', '')) AS spaced
         |        FROM $prev CROSS JOIN t$k),
         |o$k AS (SELECT $k AS round,
         |    replace(replace(pair, '<', ''), '>', '') AS pair, pair_count, syms_after
         |  FROM t$k CROSS JOIN (
         |    SELECT CAST(SUM(cnt * len(string_split(spaced, ' '))) AS BIGINT) AS syms_after
         |    FROM s$k) x)""".stripMargin
    }
    s"""words AS (
       |  SELECT w, COUNT(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1),
       |s0 AS (
       |  SELECT w, cnt,
       |    array_to_string(list_transform(string_split(w, ''),
       |      c -> '<' || c || '>'), ' ') AS spaced
       |  FROM words),
       |${(1 to BpeRounds).map(stage).mkString(",\n")}""".stripMargin
  }

  val t79BpeTrainSql: String =
    s"""WITH $bpeStagesSql
       |${(1 to BpeRounds).map(k => s"SELECT * FROM o$k").mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin

  // -------------------------------------------------------------------
  // t81: BPE ENCODE — the other half of the tokenizer story: t79 trains
  // the merge table, t81 applies it back to the corpus (the step every
  // training pipeline actually runs at full scale, over and over). The
  // key economy: greedy BPE application is a pure function of the WORD,
  // so it runs once per word TYPE on the vocabulary frame (where t79
  // already materialized the merged spellings) and reaches the corpus by
  // an equi-join — the 100 TB corpus is scanned once and never carries
  // spellings, and per-doc stats are one map-side-combined aggregate.
  // Output per document: words, BPE tokens, and the chars-per-token
  // compression ratio (THE tokenizer-quality number).
  //
  // Oracle nests the full training chain (bpeStagesSql), so train →
  // encode is hash-checked end-to-end as one composition (t69/c74's
  // discipline). Token counts are exact integers; the ratio is one
  // fixed-shape division rounded once.
  // -------------------------------------------------------------------
  def t81BpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeWith(spark, dir, bpeTrainFold(spark, dir)._1)

  /** Encode the corpus with a trained (w, cnt, spaced) vocabulary: the
    * per-word-TYPE token counts reach the corpus by a broadcast
    * equi-join; per-doc stats are one map-side-combined aggregate.
    * Shared by t81 (3-round vocab) and t99 (budget vocab).
    */
  private def bpeEncodeWith(spark: SparkSession, dir: String,
      vocab: DataFrame): DataFrame = {
    val trained = vocab
      .withColumn("n_toks", size(split(col("spaced"), " ")).cast(LongType))
      .select(col("w"), col("n_toks"))
    docs(spark, dir)
      .select(col("doc_id"), explode(toks).as("w"))
      .join(broadcast(trained), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_tokens"),
        sum(length(col("w")).cast(LongType)).as("n_word_chars"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        round(col("n_word_chars").cast(DoubleType)
          / col("n_tokens").cast(DoubleType), 6).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  val t81BpeEncodeSql: String =
    s"""WITH $bpeStagesSql,
       |trained AS (
       |  SELECT w, CAST(len(string_split(spaced, ' ')) AS BIGINT) AS n_toks
       |  FROM s$BpeRounds),
       |corpus AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |  ROUND(CAST(CAST(SUM(len(w)) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(n_toks) AS BIGINT) AS DOUBLE), 6) AS chars_per_token
       |FROM corpus JOIN trained USING (w)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t98: BPE training to a VOCABULARY BUDGET (VERDICT r14 item 6) —
  // t79 runs a fixed 3 merge rounds; a real tokenizer trainer iterates
  // until |V| = budget, counting the base alphabet plus one new symbol
  // per merge: rounds = budget − |alphabet|, with PAIR EXHAUSTION
  // (every word already a single symbol) as the second honest stop.
  //
  // Iteration shape (the q63/q67 idiom, replacing t79's single nested
  // plan): the vocabulary frame is localCheckpoint'd EVERY round, so
  // the per-round plan stays O(1)-deep no matter the budget — t79's
  // one-declarative-plan trick is fine at 3 rounds but compounds plan
  // depth and codegen size linearly, which a budget-sized trainer
  // (thousands of merges) cannot afford. Per round the driver collects
  // the ONE elected (pair, count) row — provably bounded (1 row/round,
  // the corpus-scalar class) — which both decides the stop conditions
  // and feeds the merge literal without a crossJoin. The corpus is
  // still scanned exactly ONCE (the word-count collapse); every round
  // runs on the ≤|word types| checkpointed frame, so at 100 TB the
  // budget, not the corpus, prices training.
  //
  // Oracle: the t79 CTE chain unrolled at the gate's round count
  // (budget 40 − alphabet 24 = 16 — the alphabet is 24 at every SF of
  // this corpus, and BOTH engines compute it, so drift would surface
  // loudly as a row-count mismatch, never silently), made stop-aware:
  // each stage's merge applies only within budget (and LEFT JOIN keeps
  // spellings through an exhausted election), each report row emits
  // only within budget.
  // -------------------------------------------------------------------
  private[graft] val BpeVocabBudget = 40
  // Oracle unroll depth; exact whenever |alphabet| ≥ 24 (= 24 here).
  // alpha > 24 is guarded inside the SQL stages; alpha < 24 would make
  // the Scala fold run MORE rounds than the unrolled oracle — that
  // direction is pinned by Round16Spec's alphabet assertion at the
  // gated SFs via [[bpeAlphabetSize]] (ADVICE r15).
  private[graft] val BpeBudgetUnroll = 16

  /** |alphabet| of the BPE corpus (distinct characters across word
    * types) — the scalar [[bpeBudgetFold]] derives its round count
    * from. Exposed so the spec can pin BpeBudgetUnroll = budget − 24
    * at the gated SFs instead of discovering a drift as an oracle
    * row-count mismatch.
    */
  private[graft] def bpeAlphabetSize(spark: SparkSession, dir: String): Long =
    docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .select(explode(filter(split(col("w"), ""), x => x =!= "")).as("c"))
      .agg(countDistinct(col("c")).as("a")).head().getLong(0)

  /** One elected merge: round number, the merged pair (sentinel-free),
    * its corpus adjacency count, corpus symbols after the merge, and
    * the vocabulary size (alphabet + merges so far) the round reaches.
    */
  private[graft] final case class BpeMergeReport(
      round: Int, pair: String, pairCount: Long,
      symsAfter: Long, vocabSize: Long)

  /** Train to `budget`: (final merged vocabulary frame, per-round merge
    * reports). Spec entry point — t98 publishes the reports, t99
    * applies the final vocabulary back to the corpus.
    */
  private[graft] def bpeBudgetFold(spark: SparkSession, corpus: DataFrame,
      budget: Int): (DataFrame, Seq[BpeMergeReport]) = {
    var cur = corpus
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("spaced", array_join(
        transform(filter(split(col("w"), ""), x => x =!= ""),
          c => concat(lit("<"), c, lit(">"))), " "))
      .graftCheckpoint()
    // |alphabet|: a bounded driver scalar (≤ |codepoints|)
    val alpha = cur
      .select(explode(split(col("spaced"), " ")).as("s"))
      .agg(countDistinct(col("s")).as("a")).head().getLong(0)
    val rounds = math.max(0L, budget - alpha).toInt
    val reports = Seq.newBuilder[BpeMergeReport]
    var r = 1
    while (r <= rounds) {
      // the elected pair: 1 row by construction (the bounded-collect class)
      val elected = cur
        .withColumn("cs", split(col("spaced"), " "))
        .select(col("cnt"), explode(expr(
          "zip_with(slice(cs, 1, size(cs) - 1), slice(cs, 2, size(cs) - 1), " +
            "(a, b) -> concat(a, ' ', b))")).as("p"))
        .groupBy(col("p")).agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("p").asc).limit(1).collect()
      if (elected.isEmpty) r = rounds + 1 // pair exhaustion: stop early
      else {
        val pair = elected(0).getString(0)
        cur = cur
          .withColumn("spaced",
            replace(col("spaced"), lit(pair), lit(pair.replace("> <", ""))))
          .graftCheckpoint()
        val symsAfter = cur
          .agg(sum(col("cnt") * size(split(col("spaced"), " "))).as("s"))
          .head().getLong(0)
        reports += BpeMergeReport(r, pair.replaceAll("[<>]", ""),
          elected(0).getLong(1), symsAfter, alpha + r)
        r += 1
      }
    }
    (cur, reports.result())
  }

  def t98BpeBudgetTrain(spark: SparkSession, dir: String): DataFrame = {
    val reports = bpeBudgetFold(spark, docs(spark, dir), BpeVocabBudget)._2
    spark.createDataFrame(
        reports.map(m => (m.round, m.pair, m.pairCount, m.symsAfter, m.vocabSize)))
      .toDF("round", "pair", "pair_count", "syms_after", "vocab_size")
      .orderBy(col("round"))
  }

  /** The budget-gated training CTE chain (words → alpha → b0 → bp/bt/b/bo
    * per round) — shared by the t98 and t99 oracles. Differs from
    * [[bpeStagesSql]] in the two stop conditions: a stage's merge applies
    * only while round ≤ budget − alphabet, and an exhausted election
    * (empty btK) passes spellings through unchanged via LEFT JOIN.
    */
  private val bpeBudgetStagesSql: String = {
    def stage(k: Int): String = {
      val prev = s"b${k - 1}"
      // MATERIALIZED is load-bearing: btK and bK are each referenced
      // twice, so DuckDB's default CTE inlining would expand the
      // 16-stage chain into 2^16 scans of the base (observed as an
      // fd-exhaustion failure, not just slowness)
      s"""bp$k AS MATERIALIZED (
         |  SELECT cs[i] || ' ' || cs[i+1] AS p, CAST(SUM(cnt) AS BIGINT) AS pc
         |  FROM (SELECT cnt, string_split(spaced, ' ') AS cs FROM $prev),
         |       unnest(range(1, len(cs))) r(i)
         |  GROUP BY 1),
         |bt$k AS MATERIALIZED (SELECT p AS pair, pc AS pair_count FROM bp$k
         |         ORDER BY pc DESC, p ASC LIMIT 1),
         |b$k AS MATERIALIZED (SELECT w, cnt,
         |    CASE WHEN t.pair IS NULL OR $k > $BpeVocabBudget - (SELECT a FROM alpha)
         |         THEN spaced
         |         ELSE replace(spaced, t.pair, replace(t.pair, '> <', '')) END AS spaced
         |  FROM $prev LEFT JOIN bt$k t ON TRUE),
         |bo$k AS (SELECT $k AS round,
         |    replace(replace(pair, '<', ''), '>', '') AS pair, pair_count, syms_after,
         |    CAST((SELECT a FROM alpha) + $k AS BIGINT) AS vocab_size
         |  FROM bt$k CROSS JOIN (
         |    SELECT CAST(SUM(cnt * len(string_split(spaced, ' '))) AS BIGINT) AS syms_after
         |    FROM b$k) x
         |  WHERE $k <= $BpeVocabBudget - (SELECT a FROM alpha))""".stripMargin
    }
    s"""words AS MATERIALIZED (
       |  SELECT w, COUNT(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1),
       |alpha AS MATERIALIZED (
       |  SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS a
       |  FROM (SELECT unnest(string_split(w, '')) AS c FROM words)),
       |b0 AS MATERIALIZED (
       |  SELECT w, cnt,
       |    array_to_string(list_transform(string_split(w, ''),
       |      c -> '<' || c || '>'), ' ') AS spaced
       |  FROM words),
       |${(1 to BpeBudgetUnroll).map(stage).mkString(",\n")}""".stripMargin
  }

  val t98BpeBudgetTrainSql: String =
    s"""WITH $bpeBudgetStagesSql
       |${(1 to BpeBudgetUnroll).map(k => s"SELECT * FROM bo$k").mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin

  // -------------------------------------------------------------------
  // t99: encode with the BUDGET vocabulary — t81's broadcast equi-join
  // economy, applied to t98's |V|=40 merge table; the pair proves the
  // budget trainer composes into the pipeline exactly as the 3-round
  // one does (oracle nests the full budget training chain, so train →
  // encode is hash-checked end-to-end at the larger round count).
  // -------------------------------------------------------------------
  def t99BpeBudgetEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeWith(spark, dir,
      bpeBudgetFold(spark, docs(spark, dir), BpeVocabBudget)._1)

  val t99BpeBudgetEncodeSql: String =
    s"""WITH $bpeBudgetStagesSql,
       |trained AS (
       |  SELECT w, CAST(len(string_split(spaced, ' ')) AS BIGINT) AS n_toks
       |  FROM b$BpeBudgetUnroll),
       |corpus AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |  ROUND(CAST(CAST(SUM(len(w)) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(n_toks) AS BIGINT) AS DOUBLE), 6) AS chars_per_token
       |FROM corpus JOIN trained USING (w)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t69: classifier confusion matrix — t50's language predictions
  // cross-tabulated against the gold labels, with per-true-class recall:
  // the eval table every labeling/classification stage ships with. The
  // oracle NESTS t50's full SQL, so the composition (classifier →
  // evaluation) is hash-checked end-to-end, c74/c77's discipline.
  // Shape: t50's per-doc scan collapses straight into a
  // |langs|²-bounded aggregate; recall is one division of exact counts
  // over a langs-sized window.
  // -------------------------------------------------------------------
  def t69LangConfusion(spark: SparkSession, dir: String): DataFrame = {
    val wTot = Window.partitionBy(col("labeled_lang"))
    t50LangId(spark, dir)
      .select(col("labeled_lang"), col("pred_lang"))
      .groupBy(col("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_true", sum(col("n_docs")).over(wTot))
      .select(col("labeled_lang"), col("pred_lang"), col("n_docs"), col("n_true"),
        round(col("n_docs") / col("n_true"), 6).as("frac"))
      .orderBy(col("labeled_lang"), col("pred_lang"))
  }

  val t69LangConfusionSql: String =
    s"""WITH preds AS (
       |  SELECT labeled_lang, pred_lang FROM ($t50LangIdSql)),
       |cm AS (
       |  SELECT labeled_lang, pred_lang, COUNT(*) AS n_docs
       |  FROM preds GROUP BY 1, 2)
       |SELECT labeled_lang, pred_lang, n_docs,
       |  CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang) AS BIGINT) AS n_true,
       |  ROUND(n_docs / CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang) AS BIGINT), 6)
       |    AS frac
       |FROM cm
       |ORDER BY labeled_lang, pred_lang""".stripMargin

  // -------------------------------------------------------------------
  // t70: feature hashing (the hashing-trick vectorizer) — each token
  // instance lands in bucket h60(term) mod FeatureDim, yielding the
  // fixed-width sparse count vector classic ML pipelines feed linear
  // models; no vocabulary pass, no fit state, which is precisely why
  // the trick scales (a 100 TB corpus vectorizes in ONE scan + one
  // (doc, bucket) hash aggregate, map-side combined). FeatureDim=16 is
  // deliberately below the corpus's 31-term vocabulary so bucket
  // COLLISIONS — the trick's defining trade-off — actually occur and
  // are exercised by the spec.
  // -------------------------------------------------------------------
  private val FeatureDim = 16

  def t70FeatureHash(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(toks).as("term"))
      .select(col("doc_id"),
        (PortableHash.h60(col("term")) % FeatureDim).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("doc_id"), col("bucket"))

  val t70FeatureHashSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |SELECT doc_id, ${PortableHash.h60Sql("term")} % $FeatureDim AS bucket,
       |  COUNT(*) AS cnt
       |FROM tok
       |GROUP BY 1, 2
       |ORDER BY doc_id, bucket""".stripMargin

  // ---------------------------------------------------------------------
  // t71: per-doc Shannon entropy (character- and token-level) + type-token
  // ratio — the information-density quality signals (low char entropy ⇒
  // repeated characters/boilerplate, low TTR ⇒ template text; standard
  // pre-training filter features alongside t51's ratios).
  //
  // Algebra: H = log2(N) − Σ n·log2(n) / N over the per-doc symbol
  // histogram — one explode + one hash agg per level, no per-symbol
  // probability division, no window. Scale shape: rows after the explode
  // are (doc, symbol) pairs — linear in corpus size, partitioned by the
  // shuffle on (doc_id, symbol), then collapsed to one row per doc.
  // ---------------------------------------------------------------------
  private def entropyAgg(sym: Column): Column = {
    // Σ n·log2 n and N from a per-(doc,symbol) count column `sym`
    round(log2(sum(sym)) - sum(sym * log2(sym)) / sum(sym), 6)
  }

  /** t71's metrics as a STATELESS per-row projection over any
    * (doc_id, text) frame — the histogram lives in the row's own arrays
    * (t55's `topCnt` idiom), so the SAME expression tree runs on a
    * stream unchanged (StreamingSpec pins it; EntropyChunkSpec pins
    * ≡ the batch explode+agg form). Per-row cost is O(distinct·n) in
    * the doc's own length — fine as an ingest gate; the batch form
    * keeps the explode+hash-agg shape for corpus passes.
    */
  private[graft] def entropyMetricsFrom(df: DataFrame): DataFrame = {
    def ent(arr: Column): Column = {
      val counts = transform(array_distinct(arr),
        w => size(filter(arr, x => x === w)).cast(DoubleType))
      val n = size(arr).cast(DoubleType)
      round(log2(n) - aggregate(counts, lit(0.0),
        (acc, c) => acc + c * log2(c)) / n, 6)
    }
    val chars = filter(split(col("text"), ""), c => c =!= "")
    df.select(col("doc_id"),
      ent(chars).as("char_entropy"),
      ent(toks).as("token_entropy"),
      round(size(array_distinct(toks)).cast(DoubleType) / size(toks), 6).as("ttr"))
  }

  def t71Entropy(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val chars = d
      .select(col("doc_id"), explode(filter(split(col("text"), ""), c => c =!= "")).as("c"))
      .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).cast(DoubleType).as("n"))
      .groupBy(col("doc_id")).agg(entropyAgg(col("n")).as("char_entropy"))
    val toksPer = d
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).cast(DoubleType).as("n"))
      .groupBy(col("doc_id")).agg(
        entropyAgg(col("n")).as("token_entropy"),
        round(count(lit(1)) / sum(col("n")), 6).as("ttr"))
    chars.join(toksPer, "doc_id")
      .select(col("doc_id"), col("char_entropy"), col("token_entropy"), col("ttr"))
      .orderBy(col("doc_id"))
  }

  val t71EntropySql: String =
    """WITH ch AS (
      |  SELECT doc_id, c, CAST(COUNT(*) AS DOUBLE) AS n
      |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
      |  GROUP BY 1, 2),
      |che AS (
      |  SELECT doc_id, ROUND(log2(SUM(n)) - SUM(n * log2(n)) / SUM(n), 6) AS char_entropy
      |  FROM ch GROUP BY doc_id),
      |tk AS (
      |  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS n
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY 1, 2),
      |tke AS (
      |  SELECT doc_id,
      |    ROUND(log2(SUM(n)) - SUM(n * log2(n)) / SUM(n), 6) AS token_entropy,
      |    ROUND(COUNT(*) / SUM(n), 6) AS ttr
      |  FROM tk GROUP BY doc_id)
      |SELECT che.doc_id AS doc_id, char_entropy, token_entropy, ttr
      |FROM che JOIN tke ON che.doc_id = tke.doc_id
      |ORDER BY che.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t72: RAG chunking — fixed token windows (W=32) with overlap
  // (stride S=24), the retrieval-corpus preparation step. Chunk count and
  // offsets are exact integer arithmetic on the token count; the chunk
  // payload is carried as md5 of the reassembled window (the driver
  // compare stays small; a real pipeline would keep the text column).
  // Scale shape: pure per-row fan-out (posexplode of a computed range) —
  // no shuffle at all until the output sort; chunks inherit the scan's
  // partitioning, which is exactly what a 100 TB chunker wants.
  // ---------------------------------------------------------------------
  private val ChunkW = 32
  private val ChunkS = 24

  def t72Chunks(spark: SparkSession, dir: String): DataFrame =
    chunksFrom(docs(spark, dir))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** t72's chunker over any (doc_id, text) frame, without the
    * presentation sort: a stateless per-row fan-out (Generate), so the
    * SAME tree chunks a stream in Append mode (StreamingSpec pins it) —
    * the RAG-ingest path chunks documents as they arrive.
    */
  private[graft] def chunksFrom(df: DataFrame): DataFrame =
    df
      .select(col("doc_id"), toks.as("tk"), size(toks).cast(LongType).as("n"))
      .withColumn("nc",
        when(col("n") <= ChunkW, lit(1L))
          .otherwise(expr(s"(n - $ChunkW + $ChunkS - 1) div $ChunkS + 1")))
      .select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0L), col("nc") - 1)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * ChunkS)
      .withColumn("n_tok", least(lit(ChunkW.toLong), col("n") - col("start_tok")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("n_tok"),
        graft.functions.HashFns.fastMd5(concat_ws(" ",
          slice(col("tk"), (col("start_tok") + 1).cast("int"), col("n_tok").cast("int"))))
          .as("chunk_md5"))

  val t72ChunksSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, tk, n,
       |    CASE WHEN n <= $ChunkW THEN 1
       |         ELSE (n - $ChunkW + $ChunkS - 1) // $ChunkS + 1 END AS nc
       |  FROM t),
       |e AS (
       |  SELECT doc_id, tk, n,
       |    CAST(unnest(generate_series(0, nc - 1)) AS BIGINT) AS chunk_id
       |  FROM c)
       |SELECT doc_id, chunk_id, chunk_id * $ChunkS AS start_tok,
       |  LEAST($ChunkW, n - chunk_id * $ChunkS) AS n_tok,
       |  md5(array_to_string(
       |    list_slice(tk, chunk_id * $ChunkS + 1,
       |               chunk_id * $ChunkS + LEAST($ChunkW, n - chunk_id * $ChunkS)), ' ')) AS chunk_md5
       |FROM e
       |ORDER BY doc_id, chunk_id""".stripMargin

  // -------------------------------------------------------------------
  // t75/t76: learned quality gate — the CCNet-style classifier pass
  // (Wenzek et al., "CCNet: Extracting High Quality Monolingual
  // Datasets from Web Crawl Data"): a linear model over per-doc
  // features replaces the hand-tuned t51 combination. t75 is INFERENCE
  // — fixed public weights, one projection over the corpus, no shuffle
  // before the output sort — and t76 is one full-batch logistic
  // gradient step against t51-derived labels (distant supervision: the
  // learned gate starts from the heuristic it will replace), the q56
  // sum-of-moments discipline applied to a classifier.
  //
  // Cross-engine determinism: the five features are exact rational
  // arithmetic (IEEE-identical in both engines, the t51 precedent), the
  // margin z is a fixed-order weighted sum of them, and the one
  // transcendental (the sigmoid) is SNAPPED to integer nano-units
  // (floor(σ·1e9 + .5) — the t54/t61 ln discipline; σ ≤ 1 so the 1e-16
  // wobble is 1e-7 nano-units). t76's gradient Σ(σ−y)·x is summed
  // EXACTLY: snapped residual (int nanos) × snapped feature (int
  // micros) accumulated in Decimal(38,0)/HUGEINT — bit-identical under
  // any partitioning or order, no double sum anywhere.
  //
  // Scale: t75 is scan-shaped (per-row projection). t76 is one
  // map-side-combined aggregate to a single |features|-width row,
  // unpivoted to |features|+1 output rows — gradient state is
  // feature-count-sized, never corpus-sized, which is why one step of
  // the 100 TB corpus is just one pass (and more steps are the same
  // pass repeated off the cached feature frame).
  // -------------------------------------------------------------------
  private[operators] val QcFeatures: Seq[String] =
    Seq("len_sat", "punct_ratio", "stop_ratio", "ttr", "mean_tok_len")
  private[operators] val QcWeights: Map[String, Double] = Map(
    "len_sat" -> 2.0, "punct_ratio" -> -4.0, "stop_ratio" -> 3.0,
    "ttr" -> 1.5, "mean_tok_len" -> 0.2)
  // bias centers the decision boundary on the corpus z-median (~1.9 at
  // every gated SF) so the gate separates rather than rubber-stamps
  private[operators] val QcBias = -2.9
  private[operators] val QcW0: Map[String, Double] = Map(
    "len_sat" -> 1.0, "punct_ratio" -> -1.0, "stop_ratio" -> 1.0,
    "ttr" -> 1.0, "mean_tok_len" -> 0.0)
  private[operators] val QcB0 = 0.0
  private[operators] val QcEta = 0.5

  /** Per-doc feature projection shared by t75/t76 — exact rational
    * arithmetic only (counts and their ratios). Stateless per-row, so
    * the SAME expression tree scores a STREAM unchanged (the
    * t55/t71/t72 ingest-gate pattern; StreamingSpec pins it).
    */
  private[graft] def qcFeaturesFrom(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("text"),
      least(lit(1.0), size(toks) / lit(100.0)).as("len_sat"),
      (regexp_count(col("text"), lit("[^a-z0-9 ]")) / length(col("text")))
        .as("punct_ratio"),
      (langScore("en") / size(toks)).as("stop_ratio"),
      (size(array_distinct(toks)) / size(toks)).as("ttr"),
      ((length(col("text")) - (size(toks) - 1)) / size(toks)).as("mean_tok_len"))

  private val qcFeatureSqls: Map[String, String] = Map(
    "len_sat" -> "least(1.0, len(string_split(text, ' ')) / 100.0)",
    "punct_ratio" -> "len(regexp_extract_all(text, '[^a-z0-9 ]')) / length(text)",
    "stop_ratio" -> s"${langScoreSql("en")} / len(string_split(text, ' '))",
    "ttr" -> "len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))",
    "mean_tok_len" ->
      "(length(text) - (len(string_split(text, ' ')) - 1)) / len(string_split(text, ' '))")

  /** Fixed-order weighted sum b + Σ wᵢ·xᵢ — the fold order IS the
    * cross-engine contract (float addition does not reassociate).
    */
  private def qcMargin(ws: Map[String, Double], b: Double): Column =
    QcFeatures.foldLeft(lit(b): Column)((acc, f) => acc + lit(ws(f)) * col(f))

  private def qcMarginSql(ws: Map[String, Double], b: Double): String =
    QcFeatures.foldLeft(b.toString)((acc, f) => s"($acc + ${ws(f)} * $f)")

  /** σ(z) snapped to integer nano-units. */
  private def sigmoidN9(z: Column): Column =
    floor(lit(1.0) / (lit(1.0) + exp(-z)) * lit(1e9) + lit(0.5)).cast(LongType)

  private def sigmoidN9Sql(z: String): String =
    s"CAST(floor(1.0 / (1.0 + exp(-($z))) * 1000000000.0 + 0.5) AS BIGINT)"

  /** The gate oracles' `f` CTE: each document's t74 feature vector. */
  private val qcFeaturesCteSql: String =
    s"""f AS (
       |  SELECT doc_id,
       |${QcFeatures.map(f => s"    ${qcFeatureSqls(f)} AS $f").mkString(",\n")}
       |  FROM documents)""".stripMargin

  /** `sc`: each document's learned-gate score in nano-units, from `f`. */
  private val qcScoreCteSql: String =
    s"""sc AS (
       |  SELECT doc_id, ${sigmoidN9Sql(qcMarginSql(QcWeights, QcBias))} AS score_n9
       |  FROM f)""".stripMargin

  /** t82's per-document rule counts as one CTE named `cte`. */
  private def gopherCountsSql(cte: String): String =
    s"""$cte AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT) AS sum_len,
       |    CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS n_hash,
       |    CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_ell,
       |    CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha,
       |    ${langScoreSql("en")} AS n_stop
       |  FROM documents)""".stripMargin

  /** `gm` (t82's rule counts) and `lab` (`cols` plus t82's pass bit). */
  private def gopherLabCtesSql(cols: String): String =
    s"""${gopherCountsSql("gm")},
       |lab AS (
       |  SELECT $cols,
       |    (CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
       |    * (CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words THEN 1 ELSE 0 END)
       |    * (CASE WHEN 10 * n_hash <= n_words THEN 1 ELSE 0 END)
       |    * (CASE WHEN 10 * n_ell <= n_words THEN 1 ELSE 0 END)
       |    * (CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END)
       |    * (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS pass
       |  FROM gm)""".stripMargin

  /** Scored-but-unsorted form: runs on batch OR stream (Append mode —
    * no state, no watermark needed).
    */
  private[graft] def qualityScoresFrom(df: DataFrame): DataFrame =
    qcFeaturesFrom(df)
      .withColumn("z", qcMargin(QcWeights, QcBias))
      .select(col("doc_id") +: QcFeatures.map(col) :+
        col("z") :+ sigmoidN9(col("z")).as("score_n9") :+
        (col("z") >= 0).cast(LongType).as("keep"): _*)

  def t75QualityClassifier(spark: SparkSession, dir: String): DataFrame =
    qualityScoresFrom(docs(spark, dir)).orderBy(col("doc_id"))

  val t75QualityClassifierSql: String = {
    s"""WITH $qcFeaturesCteSql,
       |z AS (
       |  SELECT *, ${qcMarginSql(QcWeights, QcBias)} AS z FROM f)
       |SELECT doc_id, ${QcFeatures.mkString(", ")}, z,
       |  ${sigmoidN9Sql("z")} AS score_n9,
       |  CAST(z >= 0 AS BIGINT) AS keep
       |FROM z
       |ORDER BY doc_id""".stripMargin
  }

  def t76QualityGradStep(spark: SparkSession, dir: String): DataFrame = {
    val labeled = qcFeaturesFrom(docs(spark, dir))
      .withColumn("y", (qualityScoreExpr >= 0.5).cast(LongType))
      .withColumn("z0", qcMargin(QcW0, QcB0))
      // residual in exact int nanos; features in exact int micros
      .withColumn("r9", sigmoidN9(col("z0")) - col("y") * lit(1000000000L))
    val snapped = QcFeatures.foldLeft(labeled)((df, f) =>
      df.withColumn(s"x6_$f", floor(col(f) * lit(1e6) + lit(0.5)).cast(LongType)))
    val aggs = sum(col("r9").cast(DecimalType(38, 0))).as("gnum_bias") +:
      QcFeatures.map(f => sum(col("r9").cast(DecimalType(38, 0)) * col(s"x6_$f"))
        .as(s"gnum_$f"))
    val agg = snapped.agg(count(lit(1)).as("n"), aggs: _*)
    // unpivot the one gradient row to (feature, w0, grad, w1)
    val rows = struct(lit("bias").as("feature"), lit(QcB0).as("w0"),
        round(col("gnum_bias").cast(DoubleType) / (lit(1e9) * col("n")), 6).as("grad")) +:
      QcFeatures.map(f => struct(lit(f).as("feature"), lit(QcW0(f)).as("w0"),
        round(col(s"gnum_$f").cast(DoubleType) / (lit(1e15) * col("n")), 6).as("grad")))
    agg.select(explode(array(rows: _*)).as("r"))
      .select(col("r.feature"), col("r.w0"), col("r.grad"),
        round(col("r.w0") - lit(QcEta) * col("r.grad"), 6).as("w1"))
      .orderBy(col("feature"))
  }

  val t76QualityGradStepSql: String = {
    val featCols = QcFeatures.map(f => s"    ${qcFeatureSqls(f)} AS $f").mkString(",\n")
    val snapCols = QcFeatures.map(f =>
      s"    CAST(floor($f * 1000000.0 + 0.5) AS BIGINT) AS x6_$f").mkString(",\n")
    val gnums = s"    SUM(CAST(r9 AS HUGEINT)) AS gnum_bias" +:
      QcFeatures.map(f => s"    SUM(CAST(r9 AS HUGEINT) * x6_$f) AS gnum_$f")
    val branches = Seq(
      s"SELECT 'bias' AS feature, CAST($QcB0 AS DOUBLE) AS w0, " +
        s"ROUND(CAST(gnum_bias AS DOUBLE) / (1e9 * n), 6) AS grad FROM g") ++
      QcFeatures.map(f =>
        s"SELECT '$f', CAST(${QcW0(f)} AS DOUBLE), " +
          s"ROUND(CAST(gnum_$f AS DOUBLE) / (1e15 * n), 6) FROM g")
    s"""WITH f AS (
       |  SELECT doc_id, text,
       |$featCols
       |  FROM documents),
       |lab AS (
       |  SELECT *, CAST($qualityScoreSqlExpr >= 0.5 AS BIGINT) AS y,
       |    ${qcMarginSql(QcW0, QcB0)} AS z0
       |  FROM f),
       |r AS (
       |  SELECT *, ${sigmoidN9Sql("z0")} - y * 1000000000 AS r9,
       |$snapCols
       |  FROM lab),
       |g AS (
       |  SELECT COUNT(*) AS n,
       |${gnums.mkString(",\n")}
       |  FROM r),
       |u AS (
       |  ${branches.mkString("\n  UNION ALL ")})
       |SELECT feature, w0, grad, ROUND(w0 - $QcEta * grad, 6) AS w1
       |FROM u
       |ORDER BY feature""".stripMargin
  }

  // -------------------------------------------------------------------
  // t77: interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995;
  // Chen & Goodman 1998) — the smoothing real perplexity filters
  // (KenLM) actually use, upgrading t61's add-one baseline: absolute
  // discounting plus a CONTINUATION-count backoff,
  //   P_KN(w2|w1) = max(c2−D,0)/c1 + (D·N1+(w1·)/c1) · N1+(·w2)/B
  // where N1+(w1·)/N1+(·w2) are distinct-successor/-predecessor type
  // counts and B the distinct-bigram total. "how many contexts does w2
  // complete" replaces "how often does w2 occur" in the backoff — the
  // insight that made KN the default.
  //
  // Scale shape: t61's exactly — all four model tables live on the
  // vocabulary (c2 plus three aggregates OF c2), the scoring join hashes
  // corpus pairs against them, and the per-doc rollup is one hash
  // aggregate. Determinism: every count is exact BIGINT; P_KN is one
  // FIXED-shape double expression per distinct bigram, its ln
  // nano-snapped ONCE (t54/t61 discipline); per-doc sums run in BIGINT.
  // -------------------------------------------------------------------
  private val KnDiscount = 0.75
  // mean logprob ≥ −3.45 keeps — the threshold sits INSIDE the corpus's
  // score range at every gated SF (−3.85..−3.26), so the gate separates
  // instead of rubber-stamping (the t75 bias discipline)
  private val KnThresholdNanos = -3_450_000_000L

  /** Per-doc KN score frame (doc_id, lang, n_bigrams, sum_n) — t77's
    * engine, shared by the gate (t77) and the CCNet bucketing (t78).
    * Only docs WITH bigrams appear; t77's left join restores the rest.
    *
    * Frozen-model idiom ([[ModelCache.memo]]): the frame is |docs| rows
    * of 4 scalars, fit once per (session, dir) and checkpointed, so
    * (a) the gate and the bucketing share ONE model build, and (b)
    * t78's `rankByRange` consumers read a truncated-lineage frame —
    * the corpus-sized bigram/model chain can never re-execute per
    * slice consumer.
    */
  private def knDocScores(spark: SparkSession, dir: String): DataFrame =
    graft.ModelCache.memo(spark, "kn_doc_scores", dir)(knDocScoresBuild(spark, dir))

  private def knDocScoresBuild(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val grams = filter(
      transform(sequence(lit(1), greatest(size(toks) - 1, lit(1))),
        i => struct(try_element_at(toks, i).as("w1"),
          try_element_at(toks, i + lit(1)).as("w2"))),
      s => s.getField("w2").isNotNull)
    val pairs = d.select(col("doc_id"), col("lang"), explode(grams).as("g"))
      .select(col("doc_id"), col("lang"), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .graftCheckpoint(true)
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // successor stats per context: total count AND distinct-successor
    // type count, in ONE pass over the c2 frame
    val c1f = c2.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1fwd"))
    val n1b = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1bwd"))
    val bt = c2.agg(count(lit(1)).as("bt"))
    def D = DoubleType
    val model = c2.join(c1f, "w1").join(n1b, "w2").crossJoin(broadcast(bt))
      .withColumn("p",
        greatest(col("c2").cast(D) - lit(KnDiscount), lit(0.0)) / col("c1").cast(D)
          + (lit(KnDiscount) * col("n1fwd").cast(D) / col("c1").cast(D))
            * (col("n1bwd").cast(D) / col("bt").cast(D)))
      .withColumn("lp_n", floor(log(col("p")) * lit(1e9) + lit(0.5)).cast(LongType))
      .select(col("w1"), col("w2"), col("lp_n"))
    pairs.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_n")).as("sum_n"))
  }

  def t77KnLmScore(spark: SparkSession, dir: String): DataFrame = {
    val scored = knDocScores(spark, dir).drop("lang")
    docs(spark, dir).select(col("doc_id")).distinct()
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("sum_n").cast(DoubleType) / col("n_bigrams").cast(DoubleType) / lit(1e9), 6)
          .as("avg_logprob"),
        coalesce(col("sum_n") >= lit(KnThresholdNanos) * col("n_bigrams"), lit(false))
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  /** t77's interpolated Kneser-Ney bigram `model` (w1, w2, lp_n) over `pairs`. */
  private val knBigramModelCtesSql: String =
    s"""c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2),
       |c1f AS (
       |  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1, COUNT(*) AS n1fwd
       |  FROM c2 GROUP BY w1),
       |n1b AS (SELECT w2, COUNT(*) AS n1bwd FROM c2 GROUP BY w2),
       |bt AS (SELECT COUNT(*) AS bt FROM c2),
       |model AS (
       |  SELECT c2.w1, c2.w2,
       |    CAST(floor(ln(
       |      GREATEST(CAST(c2 AS DOUBLE) - $KnDiscount, 0.0) / CAST(c1 AS DOUBLE)
       |        + ($KnDiscount * CAST(n1fwd AS DOUBLE) / CAST(c1 AS DOUBLE))
       |          * (CAST(n1bwd AS DOUBLE) / CAST(bt AS DOUBLE))
       |    ) * 1000000000.0 + 0.5) AS BIGINT) AS lp_n
       |  FROM c2 JOIN c1f USING (w1) JOIN n1b USING (w2) CROSS JOIN bt)""".stripMargin

  val t77KnLmScoreSql: String =
    s"""WITH $docBigramsCtesSql,
       |$knBigramModelCtesSql,
       |scored AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lp_n) AS sum_n
       |  FROM pairs JOIN model USING (w1, w2) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  ROUND(CAST(sum_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1000000000.0, 6)
       |    AS avg_logprob,
       |  COALESCE(sum_n >= $KnThresholdNanos * n_bigrams, false) AS keep
       |FROM (SELECT DISTINCT doc_id FROM documents) d
       |LEFT JOIN scored USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t78: CCNet perplexity buckets (Wenzek et al.) — the data-mixing
  // stage that follows the LM score: per LANGUAGE, split the corpus
  // into equi-depth head / middle / tail terciles by model score
  // (CCNet keeps head+middle for training, tail for audit). Ranks ride
  // `rankByRange` grouped by lang (the q83/q94 slice discipline — no
  // per-language single-partition window), buckets are the exact
  // equi-depth rank formula (rank−1)·3 div n + 1.
  //
  // Determinism: the sort key is sum_n/n_bigrams as a raw IEEE double
  // of two exact BIGINTs — bit-identical cross-engine — with doc_id as
  // the total tiebreak; bucket arithmetic is pure integer.
  // -------------------------------------------------------------------
  def t78PerplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = knDocScores(spark, dir)
      .withColumn("alp", col("sum_n").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
    Relational.rankByRange(scored, Seq("lang"),
        Seq(col("alp").desc, col("doc_id").asc), "i", "__n")
      .withColumn("bucket", expr("(i - 1) * 3 div __n + 1"))
      .select(col("doc_id"), col("lang"),
        round(col("alp") / lit(1e9), 6).as("avg_logprob"),
        col("bucket"),
        when(col("bucket") === 1, "head").when(col("bucket") === 2, "middle")
          .otherwise("tail").as("band"))
      .orderBy(col("doc_id"))
  }

  val t78PerplexityBucketsSql: String =
    s"""WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       |pr AS (
       |  SELECT doc_id, lang, unnest(list_transform(range(1, len(t)),
       |    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS g
       |  FROM tk),
       |pairs AS (
       |  SELECT doc_id, lang,
       |    struct_extract(g, 'w1') AS w1, struct_extract(g, 'w2') AS w2
       |  FROM pr),
       |$knBigramModelCtesSql,
       |scored AS (
       |  SELECT doc_id, lang, COUNT(*) AS n_bigrams, SUM(lp_n) AS sum_n
       |  FROM pairs JOIN model USING (w1, w2) GROUP BY doc_id, lang),
       |ranked AS (
       |  SELECT doc_id, lang,
       |    CAST(sum_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS alp,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY CAST(sum_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE) DESC, doc_id) AS i,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM scored)
       |SELECT doc_id, lang,
       |  ROUND(alp / 1000000000.0, 6) AS avg_logprob,
       |  CAST((i - 1) * 3 // n + 1 AS BIGINT) AS bucket,
       |  CASE WHEN (i - 1) * 3 // n + 1 = 1 THEN 'head'
       |       WHEN (i - 1) * 3 // n + 1 = 2 THEN 'middle'
       |       ELSE 'tail' END AS band
       |FROM ranked
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t82: Gopher-rules quality gate (Rae et al. 2021, "Scaling Language
  // Models: ... Gopher", appendix A1.1) — the canonical published
  // rule-set t51's generic score stops short of: per document, explicit
  // pass/fail flags for word count, mean word length, symbol-to-word
  // ratios (# and ellipsis), alphabetic-word fraction, and the
  // ≥2-stopwords requirement, plus the conjunctive gate.
  //
  // Determinism: every rule is evaluated as an INTEGER comparison
  // (3n ≤ Σlen ≤ 10n instead of 3 ≤ mean ≤ 10; 10·hits ≤ n instead of
  // ratio ≤ 0.1), so flags are bit-exact cross-engine with no float
  // boundary anywhere; only the reported mean_word_len display column
  // touches doubles (one division of exact ints, round 6). Pure per-row
  // projection over the scan — zero shuffles before the output sort, the
  // same 100 TB shape as t51.
  // -------------------------------------------------------------------
  def t82GopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesFrom(docs(spark, dir)).orderBy(col("doc_id"))

  /** t82's rule gate over any (doc_id, text) frame, without the
    * presentation sort: pure per-row projection, so the SAME tree gates
    * a stream in Append mode (StreamingSpec pins stream ≡ batch) — the
    * ingest-time quality filter runs on documents as they arrive.
    */
  private[graft] def gopherRulesFrom(df: DataFrame): DataFrame = {
    val nW = size(toks)
    val sumLen = aggregate(transform(toks, t => length(t).cast(LongType)),
      lit(0L), (acc, x) => acc + x)
    val nHash = regexp_count(col("text"), lit("#"))
    val nEll = regexp_count(col("text"), lit("\\.\\.\\."))
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]")))
    val nStop = size(filter(toks, t => t.isin(stopwords("en"): _*)))
    def flag(c: Column): Column = when(c, lit(1)).otherwise(lit(0))
    df
      .select(col("doc_id"),
        nW.cast(LongType).as("n_words"),
        round(sumLen / nW.cast(DoubleType), 6).as("mean_word_len"),
        flag(nW >= 50 && nW <= 100000).as("r_word_count"),
        flag(lit(3L) * nW <= sumLen && sumLen <= lit(10L) * nW).as("r_mean_len"),
        flag(lit(10L) * nHash <= nW).as("r_hash_ratio"),
        flag(lit(10L) * nEll <= nW).as("r_ellipsis_ratio"),
        flag(lit(5L) * nAlpha >= lit(4L) * nW).as("r_alpha_words"),
        flag(nStop >= 2).as("r_stopwords"))
      .withColumn("pass", col("r_word_count") * col("r_mean_len") *
        col("r_hash_ratio") * col("r_ellipsis_ratio") *
        col("r_alpha_words") * col("r_stopwords"))
  }

  val t82GopherRulesSql: String =
    s"""WITH ${gopherCountsSql("m")}
       |SELECT doc_id, n_words,
       |  ROUND(sum_len / CAST(n_words AS DOUBLE), 6) AS mean_word_len,
       |  CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS r_word_count,
       |  CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS r_mean_len,
       |  CASE WHEN 10 * n_hash <= n_words THEN 1 ELSE 0 END AS r_hash_ratio,
       |  CASE WHEN 10 * n_ell <= n_words THEN 1 ELSE 0 END AS r_ellipsis_ratio,
       |  CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS r_alpha_words,
       |  CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stopwords,
       |  (CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
       |  * (CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words THEN 1 ELSE 0 END)
       |  * (CASE WHEN 10 * n_hash <= n_words THEN 1 ELSE 0 END)
       |  * (CASE WHEN 10 * n_ell <= n_words THEN 1 ELSE 0 END)
       |  * (CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END)
       |  * (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS pass
       |FROM m
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t83: taxonomy keyword tagging — a term→topic dictionary joined
  // against the exploded token stream (the FlashText/dictionary-tagger
  // shape). Unlike t50's inlined `isin` literals, the dictionary here is
  // a TABLE on the broadcast side of an equi-join: a production taxonomy
  // runs to 10^5-10^6 terms, far past expression-literal territory, and
  // the broadcast-join plan is invariant in dictionary size. One
  // explode → broadcast join → hash aggregate; output is
  // (docs × matched topics)-bounded, tokens shuffle once on doc_id.
  // -------------------------------------------------------------------
  private[graft] val topicTaxonomy: Seq[(String, String)] = Seq(
    "scan" -> "exec", "join" -> "exec", "filter" -> "exec", "agg" -> "exec",
    "sort" -> "exec", "merge" -> "exec", "hash" -> "exec",
    "table" -> "storage", "column" -> "storage", "row" -> "storage",
    "part" -> "storage", "key" -> "storage", "value" -> "storage",
    "stream" -> "streaming", "batch" -> "streaming", "window" -> "streaming",
    "spark" -> "streaming",
    "fast" -> "perf", "slow" -> "perf", "big" -> "perf", "small" -> "perf")

  def t83KeywordTags(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dict = topicTaxonomy.toDF("term", "topic")
    val tokens = docs(spark, dir)
      .select(col("doc_id"), size(toks).cast(LongType).as("n_tokens"),
        explode(toks).as("term"))
    tokens.join(broadcast(dict), "term")
      .groupBy(col("doc_id"), col("topic"))
      .agg(count(lit(1)).as("hits"), max(col("n_tokens")).as("n_tokens"))
      .select(col("doc_id"), col("topic"), col("hits"),
        round(col("hits").cast(DoubleType) / col("n_tokens"), 6).as("coverage"))
      .orderBy(col("doc_id"), col("topic"))
  }

  val t83KeywordTagsSql: String = {
    val dictRows = topicTaxonomy.map { case (t, c) => s"('$t', '$c')" }.mkString(", ")
    s"""WITH dict(term, topic) AS (VALUES $dictRows),
       |tokens AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    unnest(string_split(text, ' ')) AS term
       |  FROM documents)
       |SELECT doc_id, topic, COUNT(*) AS hits,
       |  ROUND(COUNT(*) / CAST(MAX(n_tokens) AS DOUBLE), 6) AS coverage
       |FROM tokens JOIN dict USING (term)
       |GROUP BY doc_id, topic
       |ORDER BY doc_id, topic""".stripMargin
  }

  // -------------------------------------------------------------------
  // t84: winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003,
  // "Winnowing: Local Algorithms for Document Fingerprinting" — the
  // MOSS algorithm) — t53 keeps only the global min-shingle; winnowing
  // keeps the RIGHTMOST-MINIMUM of every w-window of shingle hashes and
  // records it when the selection changes, giving the guarantee that
  // any shared substring of >= w + k - 1 chars shares a fingerprint.
  //
  // The whole selection runs as per-row ARRAY expressions over t53's
  // Rabin-Karp hash lane (base-257 Horner mod a 50-bit prime — exact
  // BIGINT in both engines): hashes → per-window minima → rightmost
  // argmin → change flags → fingerprint count + an order-free digest
  // (Σ selected hashes mod the same prime, accumulated in decimal /
  // HUGEINT so a book-length doc can't overflow). Zero shuffles before
  // the output sort; scan-bound like t51-t53, the right 100 TB shape
  // for a fingerprint extractor.
  // -------------------------------------------------------------------
  private val WinnowW = 8

  def t84Winnowing(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val codes = slice(transform(split(col("norm"), ""), c => ascii(c).cast(LongType)),
      lit(1), length(col("norm")))
    def windowHash(i: Column): Column =
      (1 until WindowChars).foldLeft(coalesce(try_element_at(col("codes"), i), lit(0L))) {
        (h, k) => (h * PolyBase + coalesce(try_element_at(col("codes"), i + k), lit(0L))) % PolyMod
      }
    docs(spark, dir)
      .withColumn("norm", norm)
      .withColumn("codes", codes)
      .withColumn("m", greatest(length(col("norm")) - (WindowChars - 1), lit(1)))
      .withColumn("h", transform(sequence(lit(1), col("m")), i => windowHash(i)))
      .withColumn("wc", greatest(col("m") - (WinnowW - 1), lit(1)))
      .withColumn("minh", transform(sequence(lit(1), col("wc")),
        j => array_min(slice(col("h"), j, least(lit(WinnowW), col("m") - j + 1)))))
      // rightmost argmin: ascending k fold keeps the LAST matching index
      .withColumn("selpos", transform(sequence(lit(1), col("wc")),
        j => aggregate(sequence(lit(0), lit(WinnowW - 1)), lit(0L), (acc, k) =>
          when(j + k <= col("m") &&
            try_element_at(col("h"), (j + k).cast(IntegerType)) === element_at(col("minh"), j.cast(IntegerType)),
            (j + k).cast(LongType)).otherwise(acc))))
      // a fingerprint is recorded when the selected position changes
      .withColumn("flags", transform(sequence(lit(1), col("wc")), j =>
        when(j === 1 ||
          element_at(col("selpos"), j.cast(IntegerType)) =!=
            element_at(col("selpos"), (j - 1).cast(IntegerType)), lit(1L))
          .otherwise(lit(0L))))
      .select(col("doc_id"),
        col("wc").cast(LongType).as("n_windows"),
        aggregate(sequence(lit(1), col("wc")), lit(0L), (acc, j) =>
          acc + element_at(col("flags"), j.cast(IntegerType))).as("n_fingerprints"),
        expr(s"""CAST(aggregate(sequence(1, wc), CAST(0 AS DECIMAL(38,0)), (acc, j) ->
          acc + CAST(element_at(flags, CAST(j AS INT)) * element_at(minh, CAST(j AS INT)) AS DECIMAL(38,0)))
          % ${PolyMod}L AS BIGINT)""").as("fp_digest"),
        array_min(col("minh")).as("fp_min"))
      .orderBy(col("doc_id"))
  }

  val t84WinnowingSql: String = {
    val fold = (1 until WindowChars).foldLeft("coalesce(codes[i], 0)") {
      (h, k) => s"(($h) * $PolyBase + coalesce(codes[i + $k], 0)) % $PolyMod"
    }
    s"""WITH n AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    list_transform(range(1, length(norm) + 1),
       |      i -> ord(substr(norm, i::INT, 1))::BIGINT) AS codes,
       |    greatest(length(norm) - ${WindowChars - 1}, 1) AS m
       |  FROM n),
       |hh AS (
       |  SELECT doc_id, m,
       |    list_transform(range(1, m + 1), i -> $fold) AS h,
       |    greatest(m - ${WinnowW - 1}, 1) AS wc
       |  FROM c),
       |s AS (
       |  SELECT doc_id, m, h, wc,
       |    list_transform(range(1, wc + 1),
       |      j -> list_min(list_slice(h, j, least(j + ${WinnowW - 1}, m)))) AS minh
       |  FROM hh),
       |p AS (
       |  SELECT doc_id, m, h, wc, minh,
       |    list_transform(range(1, wc + 1), j ->
       |      list_max(list_transform(range(0, $WinnowW), k ->
       |        CASE WHEN j + k <= m AND h[(j + k)::INT] = minh[j::INT]
       |             THEN j + k ELSE 0 END))) AS selpos
       |  FROM s),
       |f AS (
       |  SELECT doc_id, wc, minh,
       |    list_transform(range(1, wc + 1), j ->
       |      CASE WHEN j = 1 OR selpos[j::INT] <> selpos[(j - 1)::INT]
       |           THEN 1::BIGINT ELSE 0::BIGINT END) AS flags
       |  FROM p)
       |SELECT doc_id, CAST(wc AS BIGINT) AS n_windows,
       |  CAST(list_sum(flags) AS BIGINT) AS n_fingerprints,
       |  CAST(list_sum(list_transform(range(1, wc + 1),
       |    j -> flags[j::INT] * minh[j::INT])) % $PolyMod AS BIGINT) AS fp_digest,
       |  list_min(minh) AS fp_min
       |FROM f
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // t85: calibration audit / Expected Calibration Error (Naeini et al.
  // 2015; Guo et al. 2017's reliability-diagram formulation) — how well
  // the LEARNED quality gate's probabilities (t75's logistic score)
  // track an independent ground truth (t82's Gopher rule gate): bin
  // scores into 10 equal-width confidence buckets, compare per-bucket
  // mean confidence against observed pass rate, and report
  // ECE = Σ_b (n_b/N)·|conf_b − acc_b|.
  //
  // Exactness: t75's score is ALREADY an integer (nano-sigmoid), so
  // buckets are integer division, per-bucket sums are exact, and the
  // ECE numerator collapses to Σ_b |Σscore_n9 − 1e9·Σpass| — a pure
  // integer (accumulated in decimal for the 100 TB bound) with ONE
  // double division at the edge. No order-dependent double sum
  // anywhere, including across buckets.
  //
  // Scale shape: two scans of the corpus (score features + rule
  // metrics) joined on doc_id, one hash aggregate to ≤10 bucket rows;
  // the reliability table and ECE arithmetic are bucket-bounded.
  // -------------------------------------------------------------------
  private val CalibBuckets = 10

  def t85Calibration(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val scores = qualityScoresFrom(docs(spark, dir)).select(col("doc_id"), col("score_n9"))
    val labels = gopherRulesFrom(docs(spark, dir)).select(col("doc_id"), col("pass"))
    val g = scores.join(labels, "doc_id")
      .withColumn("bucket",
        least(expr(s"score_n9 * $CalibBuckets div 1000000000"), lit(CalibBuckets - 1L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score_n9").cast(d38)).as("s9"),
        sum(col("pass").cast(LongType)).as("np"))
    val wN = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g
      .withColumn("gap9sum",
        sum(abs(col("s9") - col("np").cast(d38) * lit(1000000000L))).over(wN))
      .withColumn("n_total", sum(col("n_docs")).over(wN))
      .select(col("bucket"), col("n_docs"),
        round(col("s9").cast(DoubleType) / (lit(1e9) * col("n_docs")), 6).as("confidence"),
        round(col("np").cast(DoubleType) / col("n_docs"), 6).as("accuracy"),
        round(abs(col("s9").cast(DoubleType) - col("np").cast(DoubleType) * lit(1e9))
          / (lit(1e9) * col("n_docs")), 6).as("abs_gap"),
        round(col("gap9sum").cast(DoubleType)
          / (lit(1e9) * col("n_total").cast(DoubleType)), 6).as("ece"))
      .orderBy(col("bucket"))
  }

  val t85CalibrationSql: String = {
    s"""WITH $qcFeaturesCteSql,
       |$qcScoreCteSql,
       |${gopherLabCtesSql("doc_id")},
       |g AS (
       |  SELECT LEAST(score_n9 * $CalibBuckets // 1000000000, ${CalibBuckets - 1}) AS bucket,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(score_n9) AS HUGEINT) AS s9,
       |    CAST(SUM(pass) AS BIGINT) AS np
       |  FROM sc JOIN lab USING (doc_id)
       |  GROUP BY 1),
       |t AS (
       |  SELECT *,
       |    CAST(SUM(abs(s9 - CAST(np AS HUGEINT) * 1000000000)) OVER () AS HUGEINT) AS gap9sum,
       |    CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total
       |  FROM g)
       |SELECT CAST(bucket AS BIGINT) AS bucket, n_docs,
       |  ROUND(CAST(s9 AS DOUBLE) / (1e9 * n_docs), 6) AS confidence,
       |  ROUND(CAST(np AS DOUBLE) / n_docs, 6) AS accuracy,
       |  ROUND(abs(CAST(s9 AS DOUBLE) - CAST(np AS DOUBLE) * 1e9) / (1e9 * n_docs), 6) AS abs_gap,
       |  ROUND(CAST(gap9sum AS DOUBLE) / (1e9 * CAST(n_total AS DOUBLE)), 6) AS ece
       |FROM t
       |ORDER BY bucket""".stripMargin
  }

  // -------------------------------------------------------------------
  // t86: ROC/AUC audit of the learned quality gate — the discrimination
  // sibling of t85's calibration audit (Hanley & McNeil 1982): ECE asks
  // "are t75's probabilities honest", AUC asks "does the score RANK
  // rule-passing docs above failing ones at all", via the Mann-Whitney
  // identity AUC = U/(n_pos·n_neg) with midranks for tied scores
  // (q99's tie discipline, here on the score grid). Rows are the 10
  // score-decile operating points (threshold = bucket floor) with
  // their exact TPR/FPR — the ROC polyline a gate-tuning run reads.
  //
  // Scale shape: two corpus scans join on doc_id, then ONE hash
  // aggregate collapses to the distinct-score grid (bounded by
  // distinct feature vectors, not corpus rows; localCheckpoint'd — two
  // consumers). The rank prefix rides prefixSumByRange over that grid
  // (range slices + broadcast offsets — never a single-reducer
  // window); the ROC table and AUC reduction are grid/bucket-bounded.
  //
  // Exactness: scores are already integers (nano-sigmoid), midranks
  // live on the DOUBLED rank grid 2·cum_n − n + 1 (ties' half-ranks
  // stay integral), Σ_pos·rank2 accumulates in DECIMAL(38,0), and
  //   AUC = (Σ_pos rank2 − n_pos(n_pos+1)) / (2·n_pos·n_neg)
  // is ONE double division rounded once; TPR/FPR are single divisions
  // of exact integers from the same grid.
  // -------------------------------------------------------------------
  private val RocBuckets = 10

  def t86RocAuc(spark: SparkSession, dir: String): DataFrame = {
    val scores = qualityScoresFrom(docs(spark, dir)).select(col("doc_id"), col("score_n9"))
    val labels = gopherRulesFrom(docs(spark, dir)).select(col("doc_id"), col("pass"))
    rocAucFrom(scores.join(labels, "doc_id"))
  }

  /** ROC deciles + AUC over any (score_n9: BIGINT, pass: 0/1) frame —
    * spec entry point.
    */
  private[graft] def rocAucFrom(j: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = j.groupBy(col("score_n9"))
      .agg(count(lit(1)).as("n"), sum(col("pass").cast(LongType)).as("np"))
      .graftCheckpoint(false)
    // prefix input is EXACTLY (order key, measure input): the midrank
    // identity needs only cum_n, and carrying np through the slice frame
    // makes the two range exchanges' projections diverge (offset branch
    // prunes np, ranked branch keeps it) — different boundary samples,
    // the ADVICE r10 corruption mode. np joins back by key instead
    // (the q103/q104 rebuild discipline); g is the grid frame, tiny.
    val pre = Relational.prefixSumByRange(
        g.select(col("score_n9"), col("n")), Nil, Seq(col("score_n9")),
        Seq("cum_n" -> col("n")))
      .join(g.select(col("score_n9"), col("np")), "score_n9")
    val auc = pre.agg(
        sum(col("np").cast(d38) *
          (lit(2L) * col("cum_n") - col("n") + lit(1L))).as("r2pos"),
        sum(col("n")).as("n_total"), sum(col("np")).as("n_pos"))
      .select(col("n_pos"), (col("n_total") - col("n_pos")).as("n_neg"),
        // degenerate-class guard (ADVICE r12): all-pass or all-fail
        // corpora have no ranking question — guarded NULL, the q56/q57
        // convention, instead of a NaN that diverges from DuckDB
        when(col("n_pos") > 0 && col("n_total") - col("n_pos") > 0,
          (col("r2pos") - col("n_pos").cast(d38) * (col("n_pos") + lit(1L)))
            .cast(DoubleType)
            / (lit(2.0) * col("n_pos").cast(DoubleType)
              * (col("n_total") - col("n_pos")).cast(DoubleType))).as("auc_raw"))
    val buckets = g
      .withColumn("bucket",
        least(expr(s"score_n9 * $RocBuckets div 1000000000"), lit(RocBuckets - 1L)))
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n_docs"), sum(col("np")).as("np_b"))
    // 10-row frame: the unpartitioned window is bucket-bounded by construction
    val wDesc = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets
      .withColumn("tp", sum(col("np_b")).over(wDesc))
      .withColumn("fp", sum(col("n_docs") - col("np_b")).over(wDesc))
      .crossJoin(broadcast(auc))
      .select(col("bucket"), col("n_docs"),
        when(col("n_pos") > 0,
          round(col("tp").cast(DoubleType) / col("n_pos").cast(DoubleType), 6)).as("tpr"),
        when(col("n_neg") > 0,
          round(col("fp").cast(DoubleType) / col("n_neg").cast(DoubleType), 6)).as("fpr"),
        round(col("auc_raw"), 6).as("auc"))
      .orderBy(col("bucket"))
  }

  val t86RocAucSql: String = {
    s"""WITH $qcFeaturesCteSql,
       |$qcScoreCteSql,
       |${gopherLabCtesSql("doc_id")},
       |g AS (
       |  SELECT score_n9, COUNT(*) AS n, CAST(SUM(pass) AS BIGINT) AS np
       |  FROM sc JOIN lab USING (doc_id)
       |  GROUP BY 1),
       |pre AS (
       |  SELECT *,
       |    CAST(SUM(n) OVER (ORDER BY score_n9 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
       |  FROM g),
       |a AS (
       |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       |    CAST(SUM(n) - SUM(np) AS BIGINT) AS n_neg,
       |    CASE WHEN SUM(np) > 0 AND SUM(n) - SUM(np) > 0 THEN
       |      CAST(SUM(CAST(np AS HUGEINT) * (2 * cum_n - n + 1))
       |          - CAST(SUM(np) AS HUGEINT) * (SUM(np) + 1) AS DOUBLE)
       |        / (2.0 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(n) - SUM(np) AS DOUBLE))
       |    END AS auc_raw
       |  FROM pre),
       |b AS (
       |  SELECT LEAST(score_n9 * $RocBuckets // 1000000000, ${RocBuckets - 1}) AS bucket,
       |    CAST(SUM(n) AS BIGINT) AS n_docs, CAST(SUM(np) AS BIGINT) AS np_b
       |  FROM g GROUP BY 1),
       |c AS (
       |  SELECT *,
       |    CAST(SUM(np_b) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
       |    CAST(SUM(n_docs - np_b) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
       |  FROM b)
       |SELECT CAST(bucket AS BIGINT) AS bucket, n_docs,
       |  CASE WHEN n_pos > 0 THEN ROUND(CAST(tp AS DOUBLE) / n_pos, 6) END AS tpr,
       |  CASE WHEN n_neg > 0 THEN ROUND(CAST(fp AS DOUBLE) / n_neg, 6) END AS fpr,
       |  ROUND(auc_raw, 6) AS auc
       |FROM c CROSS JOIN a ORDER BY bucket""".stripMargin
  }

  // -------------------------------------------------------------------
  // t87: paired gate-agreement audit — McNemar's test (1947) + Cohen's
  // kappa (1960) between the LEARNED keep decision (t75's z ≥ 0) and
  // the RULE gate (t82's Gopher pass) on the same documents. t85 asks
  // "are the probabilities honest", t86 "does the score rank well";
  // t87 asks the deployment question: do the two gates DISAGREE
  // systematically (McNemar: is the b↔c discordance asymmetric), and
  // how much agreement is beyond chance (kappa)? This is the audit a
  // team runs before swapping the rule gate for the learned one.
  //
  // Scale shape: two corpus scans join on doc_id and collapse in ONE
  // scalar aggregate to the 2×2 contingency counts — four integers at
  // any corpus size; every statistic is driver-free arithmetic on that
  // single row.
  //
  // Exactness: all four cells are exact longs; kappa's numerator/
  // denominator stay integral in DECIMAL(38,0)
  //   κ = (n·(n11+n00) − (r1·c1 + r0·c0)) / (n² − (r1·c1 + r0·c0))
  // and McNemar's χ² = (b−c)²/(b+c); each is ONE double division
  // rounded once.
  // -------------------------------------------------------------------
  def t87GateAgreement(spark: SparkSession, dir: String): DataFrame = {
    val learned = qualityScoresFrom(docs(spark, dir)).select(col("doc_id"), col("keep"))
    val rule = gopherRulesFrom(docs(spark, dir)).select(col("doc_id"), col("pass"))
    gateAgreementFrom(learned.join(rule, "doc_id"))
  }

  /** 2×2 agreement statistics over any (keep: 0/1, pass: 0/1) frame —
    * spec entry point.
    */
  private[graft] def gateAgreementFrom(j: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val k = col("keep").cast(LongType)
    val p = col("pass").cast(LongType)
    j.agg(
        count(lit(1)).as("n_docs"),
        sum(k * p).as("n11"),
        sum((lit(1L) - k) * (lit(1L) - p)).as("n00"),
        sum(k * (lit(1L) - p)).as("n10"),
        sum((lit(1L) - k) * p).as("n01"))
      .select(col("n_docs"), col("n11"), col("n00"), col("n10"), col("n01"),
        round((col("n11") + col("n00")).cast(DoubleType)
          / col("n_docs").cast(DoubleType), 6).as("agree_rate"),
        round(((col("n_docs").cast(d38) * (col("n11") + col("n00"))
            - ((col("n11") + col("n10")).cast(d38) * (col("n11") + col("n01"))
              + (col("n00") + col("n01")).cast(d38) * (col("n00") + col("n10"))))
          .cast(DoubleType))
          / ((col("n_docs").cast(d38) * col("n_docs")
            - ((col("n11") + col("n10")).cast(d38) * (col("n11") + col("n01"))
              + (col("n00") + col("n01")).cast(d38) * (col("n00") + col("n10"))))
          .cast(DoubleType)), 6).as("kappa"),
        round(when(col("n10") + col("n01") > 0L,
          ((col("n10") - col("n01")).cast(d38) * (col("n10") - col("n01")))
            .cast(DoubleType)
            / (col("n10") + col("n01")).cast(DoubleType))
          .otherwise(lit(0.0)), 4).as("mcnemar_chi2"))
  }

  val t87GateAgreementSql: String = {
    s"""WITH $qcFeaturesCteSql,
       |sc AS (
       |  SELECT doc_id,
       |    CASE WHEN ${qcMarginSql(QcWeights, QcBias)} >= 0 THEN 1 ELSE 0 END AS keep
       |  FROM f),
       |${gopherLabCtesSql("doc_id")},
       |cells AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(keep * pass) AS BIGINT) AS n11,
       |    CAST(SUM((1 - keep) * (1 - pass)) AS BIGINT) AS n00,
       |    CAST(SUM(keep * (1 - pass)) AS BIGINT) AS n10,
       |    CAST(SUM((1 - keep) * pass) AS BIGINT) AS n01
       |  FROM sc JOIN lab USING (doc_id))
       |SELECT n_docs, n11, n00, n10, n01,
       |  ROUND(CAST(n11 + n00 AS DOUBLE) / n_docs, 6) AS agree_rate,
       |  ROUND(CAST(CAST(n_docs AS HUGEINT) * (n11 + n00)
       |      - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
       |        + CAST(n00 + n01 AS HUGEINT) * (n00 + n10)) AS DOUBLE)
       |    / CAST(CAST(n_docs AS HUGEINT) * n_docs
       |      - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
       |        + CAST(n00 + n01 AS HUGEINT) * (n00 + n10)) AS DOUBLE), 6) AS kappa,
       |  ROUND(CASE WHEN n10 + n01 > 0 THEN
       |      CAST(CAST(n10 - n01 AS HUGEINT) * (n10 - n01) AS DOUBLE) / (n10 + n01)
       |    ELSE 0.0 END, 4) AS mcnemar_chi2
       |FROM cells""".stripMargin
  }

  // -------------------------------------------------------------------
  // t88: average-precision (PR-AUC) audit of the learned quality gate —
  // the IMBALANCE-robust discrimination sibling of t86's ROC/AUC (Davis
  // & Goadrich 2006): when rule-passing docs are rare, ROC-AUC stays
  // flattering (FPR's denominator is the huge negative class) while
  // precision collapses; AP reads the precision-recall trade directly.
  // Tie-corrected on the distinct-score grid with BLOCK-END precision
  // (every tied doc sees the precision after the whole tie block is
  // admitted — the pessimistic convention, stated here because AP under
  // ties is convention-dependent):
  //   AP = Σ_blocks np_b · (TP_b / ALL_b) / n_pos
  // descending by score, TP_b/ALL_b cumulative through block b.
  //
  // Scale shape: t86's exactly — two corpus scans join on doc_id, ONE
  // hash aggregate collapses to the distinct-score grid, the
  // descending cumulative rides the SAME ascending `prefixSumByRange`
  // pass via n_total − cum + n, and the reduction is one scalar
  // aggregate. No windows touch anything corpus-sized.
  //
  // Exactness: block precision nano-snaps from the fixed-shape double
  // TP/ALL (both engines, same associativity), np·r9 products
  // accumulate in DECIMAL(38,0), and AP is ONE double division rounded
  // once; prevalence is a single division of exact integers.
  // -------------------------------------------------------------------
  def t88AveragePrecision(spark: SparkSession, dir: String): DataFrame = {
    val scores = qualityScoresFrom(docs(spark, dir)).select(col("doc_id"), col("score_n9"))
    val labels = gopherRulesFrom(docs(spark, dir)).select(col("doc_id"), col("pass"))
    averagePrecisionFrom(scores.join(labels, "doc_id"))
  }

  /** Tie-corrected AP over any (score_n9: BIGINT, pass: 0/1) frame —
    * spec entry point.
    */
  private[graft] def averagePrecisionFrom(j: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = j.groupBy(col("score_n9"))
      .agg(count(lit(1)).as("n"), sum(col("pass").cast(LongType)).as("np"))
      .graftCheckpoint(false)
    val pre = Relational.prefixSumByRange(g, Nil, Seq(col("score_n9")),
      Seq("cum_n" -> col("n"), "cum_p" -> col("np")))
    val tot = g.agg(sum(col("n")).as("n_total"), sum(col("np")).as("n_pos"))
    pre.crossJoin(broadcast(tot))
      .withColumn("tp", col("n_pos") - col("cum_p") + col("np"))
      .withColumn("all_b", col("n_total") - col("cum_n") + col("n"))
      .withColumn("r9", floor(col("tp").cast(DoubleType)
        / col("all_b").cast(DoubleType) * lit(1e9) + lit(0.5)).cast(LongType))
      .groupBy(col("n_total"), col("n_pos"))
      .agg(sum((col("np") * col("r9")).cast(d38)).as("mass"))
      .select(col("n_pos"), (col("n_total") - col("n_pos")).as("n_neg"),
        round(col("n_pos").cast(DoubleType) / col("n_total").cast(DoubleType), 6)
          .as("prevalence"),
        // n_pos=0 guard (ADVICE r12): AP is undefined with no positive
        // class — guarded NULL instead of NaN, matching t86's convention
        when(col("n_pos") > 0,
          round(col("mass").cast(DoubleType)
            / (lit(1e9) * col("n_pos").cast(DoubleType)), 6)).as("ap"))
  }

  val t88AveragePrecisionSql: String = {
    s"""WITH $qcFeaturesCteSql,
       |$qcScoreCteSql,
       |${gopherLabCtesSql("doc_id")},
       |g AS (
       |  SELECT score_n9, COUNT(*) AS n, CAST(SUM(pass) AS BIGINT) AS np
       |  FROM sc JOIN lab USING (doc_id)
       |  GROUP BY 1),
       |pre AS (
       |  SELECT *,
       |    CAST(SUM(n) OVER (ORDER BY score_n9 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
       |    CAST(SUM(np) OVER (ORDER BY score_n9 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_p
       |  FROM g),
       |t AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS n_total, CAST(SUM(np) AS BIGINT) AS n_pos
       |  FROM g),
       |b AS (
       |  SELECT np,
       |    CAST(floor(CAST(n_pos - cum_p + np AS DOUBLE)
       |      / CAST(n_total - cum_n + n AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS r9,
       |    n_total, n_pos
       |  FROM pre CROSS JOIN t)
       |SELECT n_pos, n_total - n_pos AS n_neg,
       |  ROUND(CAST(n_pos AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS prevalence,
       |  CASE WHEN n_pos > 0 THEN
       |    ROUND(CAST(SUM(np * r9) AS DOUBLE) / (1e9 * CAST(n_pos AS DOUBLE)), 6)
       |  END AS ap
       |FROM b
       |GROUP BY n_pos, n_total""".stripMargin
  }

  // -------------------------------------------------------------------
  // t89: species-richness / coverage estimate of the per-language
  // vocabulary — Chao1 (Chao 1984, bias-corrected form) plus the
  // Good-Turing unseen-mass estimate (Good 1953): from the frequency-
  // of-frequencies margins f1 (singletons) and f2 (doubletons),
  //   chao1   = S_obs + f1·(f1−1) / (2·(f2+1))   (est. TRUE vocab size)
  //   p0      = f1 / N                            (unseen token mass)
  //   coverage = 1 − p0                           (Turing sample coverage)
  // — the capacity-planning companion to t80's Heaps fit: Heaps says how
  // fast vocab GROWS with more data, Chao1 says how much vocabulary the
  // corpus has NOT yet shown at all (tokenizer/vocab-size sizing, and
  // the stop-crawling signal when coverage saturates).
  //
  // Scale shape: ONE corpus shuffle to the (lang, word) vocabulary frame
  // (map-side combined), then a vocabulary-sized aggregate collapses to
  // |langs| rows — the t54/t66 discipline; nothing corpus-sized sorts.
  //
  // Exactness: S_obs/N/f1/f2 are pure integer counts; chao1/p0/coverage
  // are single fixed-shape double expressions over those integers,
  // identical in DuckDB, each rounded once. f2 = 0 is safe (the +1 in
  // the bias-corrected denominator is exactly why that form is used).
  // -------------------------------------------------------------------
  def t89VocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocabCoverageFrom(docs(spark, dir))

  /** Chao1 + Good-Turing coverage over any (lang, text) frame — spec
    * entry point.
    */
  private[graft] def vocabCoverageFrom(d: DataFrame): DataFrame = {
    val wc = d.select(col("lang"), explode(toks).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("f"))
    def dd(c: String) = col(c).cast(DoubleType)
    wc.groupBy(col("lang"))
      .agg(count(lit(1)).as("s_obs"),
        sum(col("f")).as("n_tokens"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("f") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("lang"), col("n_tokens"), col("s_obs"), col("f1"), col("f2"),
        round(dd("s_obs")
          + dd("f1") * (col("f1") - lit(1L)).cast(DoubleType)
            / (lit(2.0) * (col("f2") + lit(1L)).cast(DoubleType)), 6).as("chao1"),
        round(dd("f1") / dd("n_tokens"), 6).as("gt_unseen_mass"),
        round(lit(1.0) - dd("f1") / dd("n_tokens"), 6).as("coverage"))
      .orderBy(col("lang"))
  }

  val t89VocabCoverageSql: String =
    """WITH w AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS f FROM w GROUP BY 1, 2),
      |s AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS s_obs,
      |    CAST(SUM(f) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM wc GROUP BY 1)
      |SELECT lang, n_tokens, s_obs, f1, f2,
      |  ROUND(CAST(s_obs AS DOUBLE)
      |    + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
      |      / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1,
      |  ROUND(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS gt_unseen_mass,
      |  ROUND(1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS coverage
      |FROM s ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // t90: Hosmer-Lemeshow goodness-of-fit chi-square of the learned
  // quality gate (Hosmer & Lemeshow 1980, the H statistic — fixed
  // cutpoints rather than deciles of risk; the cutpoints are t85's 10
  // equal-width score buckets): per bucket,
  //   term_b = n_b·(O_b − E_b)² / (E_b·(n_b − E_b)/n_b · n_b)
  //          = n_b·(O_b·1e9 − s9)² / (s9·(n_b·1e9 − s9))
  // and H = Σ_b term_b ~ χ²(bins − 2) under "the probabilities fit".
  // The TEST sibling of t85's ECE: ECE reports the calibration gap's
  // magnitude, H says whether that gap is explainable by binomial
  // noise at this corpus size — the gate-refit trigger.
  //
  // Scale shape: t85's axis exactly — two corpus scans join on doc_id,
  // one hash aggregate to ≤10 bucket rows; every downstream step is
  // bucket-bounded (the unpartitioned window runs over ≤10 rows).
  //
  // Exactness: bucket margins (n_b, O_b, s9) are exact integers
  // (DECIMAL(38,0) sums); each term is ONE fixed-shape double
  // expression over those integers — identical parenthesization in
  // DuckDB — micro-snapped (×1e6) per bucket, so H is an exact integer
  // sum with ONE division at the edge. Degenerate bins (s9 = 0 or
  // s9 = n_b·1e9: zero binomial variance) null out and drop from both
  // H and the χ² degrees of freedom, per the standard treatment.
  // -------------------------------------------------------------------
  def t90HosmerLemeshow(spark: SparkSession, dir: String): DataFrame =
    hosmerLemeshowFrom(hlJoinedForSpec(spark, dir))

  /** The (doc_id, score_n9, pass) frame t90 buckets — spec access. */
  private[graft] def hlJoinedForSpec(spark: SparkSession, dir: String): DataFrame = {
    val scores = qualityScoresFrom(docs(spark, dir)).select(col("doc_id"), col("score_n9"))
    val labels = gopherRulesFrom(docs(spark, dir))
      .select(col("doc_id"), col("pass").cast(LongType).as("pass"))
    scores.join(labels, "doc_id")
  }

  /** HL H-statistic over any (score_n9: BIGINT in [0,1e9], pass: 0/1)
    * frame — spec entry point.
    */
  private[graft] def hosmerLemeshowFrom(j: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = j.withColumn("bucket",
        least(expr(s"score_n9 * $CalibBuckets div 1000000000"), lit(CalibBuckets - 1L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score_n9").cast(d38)).as("s9"),
        sum(col("pass").cast(LongType)).as("obs"))
    val gap = col("obs").cast(d38) * lit(1000000000L) - col("s9")
    val nine = col("n_docs").cast(d38) * lit(1000000000L)
    val term = col("n_docs").cast(DoubleType)
      .multiply(gap.cast(DoubleType)).multiply(gap.cast(DoubleType))
      .divide(col("s9").cast(DoubleType)
        * (nine.cast(DoubleType) - col("s9").cast(DoubleType)))
    val t = g.withColumn("term_u6",
      when(col("s9") > lit(0L) && col("s9") < nine,
        floor(term * lit(1e6) + lit(0.5)).cast(LongType)))
    val wN = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t.withColumn("hl_u6", sum(col("term_u6")).over(wN))
      .withColumn("n_bins",
        sum(when(col("term_u6").isNotNull, 1L).otherwise(0L)).over(wN))
      .select(col("bucket"), col("n_docs"), col("obs"),
        round(col("s9").cast(DoubleType) / lit(1e9), 6).as("expected"),
        round(col("term_u6").cast(DoubleType) / lit(1e6), 6).as("term"),
        round(col("hl_u6").cast(DoubleType) / lit(1e6), 6).as("hl"),
        (col("n_bins") - lit(2L)).as("df"))
      .orderBy(col("bucket"))
  }

  val t90HosmerLemeshowSql: String = {
    s"""WITH $qcFeaturesCteSql,
       |$qcScoreCteSql,
       |${gopherLabCtesSql("doc_id")},
       |g AS (
       |  SELECT LEAST(score_n9 * $CalibBuckets // 1000000000, ${CalibBuckets - 1}) AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(score_n9) AS HUGEINT) AS s9,
       |    CAST(SUM(pass) AS BIGINT) AS obs
       |  FROM sc JOIN lab USING (doc_id)
       |  GROUP BY 1),
       |t AS (
       |  SELECT *,
       |    CASE WHEN s9 > 0 AND s9 < CAST(n_docs AS HUGEINT) * 1000000000 THEN
       |      CAST(floor(
       |        CAST(n_docs AS DOUBLE)
       |          * CAST(CAST(obs AS HUGEINT) * 1000000000 - s9 AS DOUBLE)
       |          * CAST(CAST(obs AS HUGEINT) * 1000000000 - s9 AS DOUBLE)
       |          / (CAST(s9 AS DOUBLE)
       |            * (CAST(CAST(n_docs AS HUGEINT) * 1000000000 AS DOUBLE)
       |              - CAST(s9 AS DOUBLE)))
       |        * 1e6 + 0.5) AS BIGINT) END AS term_u6
       |  FROM g),
       |w AS (
       |  SELECT *,
       |    CAST(SUM(term_u6) OVER () AS BIGINT) AS hl_u6,
       |    CAST(SUM(CASE WHEN term_u6 IS NOT NULL THEN 1 ELSE 0 END) OVER () AS BIGINT) AS n_bins
       |  FROM t)
       |SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, obs,
       |  ROUND(CAST(s9 AS DOUBLE) / 1e9, 6) AS expected,
       |  ROUND(CAST(term_u6 AS DOUBLE) / 1e6, 6) AS term,
       |  ROUND(CAST(hl_u6 AS DOUBLE) / 1e6, 6) AS hl,
       |  n_bins - 2 AS df
       |FROM w
       |ORDER BY bucket""".stripMargin
  }

  // -------------------------------------------------------------------
  // t91: Friedman rank test (Friedman 1937) of "does mean document
  // quality differ by LANGUAGE once the SOURCE is held fixed" — the
  // within-block nonparametric sibling of q100's one-way ANOVA and
  // q103's Kruskal-Wallis: KW pools all docs and a strong source can
  // masquerade as a strong language; Friedman ranks languages WITHIN
  // each source (the block), so source-level shifts cancel exactly.
  // Blocks must be complete: sources missing any language drop (the
  // standard treatment; both engines apply the same filter).
  //   χ²_F = 12/(b·k·(k+1))·Σ_j R_j² − 3·b·(k+1) ~ χ²(k−1)
  // with R_j the rank sum of language j over b complete blocks,
  // midranks on ties.
  //
  // Scale shape: ONE corpus shuffle collapses docs to the
  // |sources × langs| cell frame (domain-bounded at any SF); ranking,
  // completeness, and the χ² reduction all ride that bounded frame.
  //
  // Exactness: cell sums are integers; the rank key is the ONE double
  // division s9/cnt (identical in DuckDB, so ordering and tie groups
  // agree exactly); midranks live on the DOUBLED grid 2·rank + ties − 1
  // (q99's tie discipline — always integral), rank sums and Σ R²
  // accumulate as integers, and χ² is one fixed-shape double
  // expression rounded once.
  // -------------------------------------------------------------------
  def t91Friedman(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val sc = qualityScoresFrom(d).select(col("doc_id"), col("score_n9"))
    val cells = d.select(col("doc_id"), col("lang"), col("source"))
      .join(sc, "doc_id")
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("score_n9")).as("s9"), count(lit(1)).as("cnt"))
    friedmanFrom(cells)
  }

  /** Friedman over any (source, lang, s9, cnt) cell frame — spec entry
    * point.
    */
  private[graft] def friedmanFrom(cells: DataFrame): DataFrame = {
    val kk = cells.select(col("lang")).distinct().agg(count(lit(1)).as("k"))
    val full = cells.withColumn("mean_d",
      col("s9").cast(DoubleType) / col("cnt").cast(DoubleType))
    val bsz = full.groupBy(col("source")).agg(count(lit(1)).as("cells"))
    val comp = full.join(bsz, "source").crossJoin(broadcast(kk))
      .filter(col("cells") === col("k"))
    val wr = Window.partitionBy(col("source")).orderBy(col("mean_d"))
    val wt = Window.partitionBy(col("source"), col("mean_d"))
    val ranked = comp
      .withColumn("mn", rank().over(wr).cast(LongType))
      .withColumn("tc", count(lit(1)).over(wt))
      .withColumn("rd", lit(2L) * col("mn") + col("tc") - lit(1L))
    val rj = ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("b"), sum(col("rd")).as("r2sum"), max(col("k")).as("k"))
    val wN = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def dd(c: String) = col(c).cast(DoubleType)
    val kp1 = (col("k") + lit(1L)).cast(DoubleType)
    rj.withColumn("ssq", sum(col("r2sum") * col("r2sum")).over(wN))
      .select(col("lang"), col("b"), col("k"),
        round(dd("r2sum") / (lit(2.0) * dd("b")), 6).as("mean_rank"),
        round(lit(3.0) * dd("ssq") / (dd("b") * dd("k") * kp1)
          - lit(3.0) * dd("b") * kp1, 6).as("chi2"),
        (col("k") - lit(1L)).as("df"))
      .orderBy(col("lang"))
  }

  val t91FriedmanSql: String = {
    s"""WITH $qcFeaturesCteSql,
       |$qcScoreCteSql,
       |cells AS (
       |  SELECT d.source, d.lang, CAST(SUM(sc.score_n9) AS BIGINT) AS s9,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM documents d JOIN sc USING (doc_id) GROUP BY 1, 2),
       |kk AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS k FROM cells),
       |fl AS (
       |  SELECT source, lang, CAST(s9 AS DOUBLE) / CAST(cnt AS DOUBLE) AS mean_d
       |  FROM cells),
       |bs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS cells FROM fl GROUP BY 1),
       |comp AS (
       |  SELECT fl.*, kk.k FROM fl JOIN bs USING (source) CROSS JOIN kk
       |  WHERE bs.cells = kk.k),
       |rk AS (
       |  SELECT source, lang, k,
       |    2 * RANK() OVER (PARTITION BY source ORDER BY mean_d)
       |      + COUNT(*) OVER (PARTITION BY source, mean_d) - 1 AS rd
       |  FROM comp),
       |rj AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS b, CAST(SUM(rd) AS BIGINT) AS r2sum,
       |    CAST(MAX(k) AS BIGINT) AS k
       |  FROM rk GROUP BY 1),
       |w AS (SELECT *, CAST(SUM(r2sum * r2sum) OVER () AS BIGINT) AS ssq FROM rj)
       |SELECT lang, b, k,
       |  ROUND(CAST(r2sum AS DOUBLE) / (2.0 * CAST(b AS DOUBLE)), 6) AS mean_rank,
       |  ROUND(3.0 * CAST(ssq AS DOUBLE)
       |      / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE))
       |    - 3.0 * CAST(b AS DOUBLE) * CAST(k + 1 AS DOUBLE), 6) AS chi2,
       |  k - 1 AS df
       |FROM w ORDER BY lang""".stripMargin
  }

  // -------------------------------------------------------------------
  // t92: tokenizer fertility audit by language — the per-LANGUAGE
  // rollup of t81's encode (t81 reports per-doc compression; fertility
  // is the cross-lingual EQUITY metric): fertility = BPE tokens per
  // word, chars per token, and the share of words the tokenizer keeps
  // whole. High-fertility languages pay more sequence length for the
  // same text — the number that drives vocab-size and per-language
  // token-budget decisions (and the standard multilingual-tokenizer
  // fairness audit).
  //
  // Scale shape: t81's axis — the trained vocab (t79's fold, bounded)
  // BROADCASTS onto the exploded corpus; ONE corpus shuffle collapses
  // to |langs| rows. OOV words drop from the join, as in t81 (their
  // rate is t67's query).
  //
  // Exactness: pure integer counts; fertility/chars-per-token/
  // whole-word share are each one double division rounded once.
  // -------------------------------------------------------------------
  def t92Fertility(spark: SparkSession, dir: String): DataFrame = {
    val trained = bpeTrainFold(spark, dir)._1
      .withColumn("n_toks", size(split(col("spaced"), " ")).cast(LongType))
      .select(col("w"), col("n_toks"))
    fertilityFrom(docs(spark, dir), trained)
  }

  /** Fertility rollup over any (lang, text) frame and (w, n_toks)
    * tokenizer table — spec entry point.
    */
  private[graft] def fertilityFrom(d: DataFrame, trained: DataFrame): DataFrame =
    d.select(col("lang"), explode(toks).as("w"))
      .join(broadcast(trained), "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_tokens"),
        sum(length(col("w")).cast(LongType)).as("n_chars"),
        sum(when(col("n_toks") === 1L, 1L).otherwise(0L)).as("n_whole"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast(DoubleType)
          / col("n_words").cast(DoubleType), 6).as("fertility"),
        round(col("n_chars").cast(DoubleType)
          / col("n_tokens").cast(DoubleType), 6).as("chars_per_token"),
        round(col("n_whole").cast(DoubleType)
          / col("n_words").cast(DoubleType), 6).as("whole_word_ratio"))
      .orderBy(col("lang"))

  val t92FertilitySql: String =
    s"""WITH $bpeStagesSql,
       |trained AS (
       |  SELECT w, CAST(len(string_split(spaced, ' ')) AS BIGINT) AS n_toks
       |  FROM s$BpeRounds),
       |corpus AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
       |g AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |    CAST(SUM(len(w)) AS BIGINT) AS n_chars,
       |    CAST(SUM(CASE WHEN n_toks = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole
       |  FROM corpus JOIN trained USING (w)
       |  GROUP BY lang)
       |SELECT lang, n_words, n_tokens,
       |  ROUND(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS fertility,
       |  ROUND(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS chars_per_token,
       |  ROUND(CAST(n_whole AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS whole_word_ratio
       |FROM g
       |ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // c88: per-source gate funnel — the rejection datasheet a curation
  // team reads before re-crawling: for every source, how many docs
  // enter, how many clear each independent gate (t82's Gopher rule
  // gate, t75's learned keep, d40's exact-dup keeper election), how
  // many clear ALL of them, and what fraction of the token budget
  // survives. c72 RUNS the composed pipeline; c88 is the per-gate
  // attribution of what each stage costs each source — the number that
  // says "this source is cheap but 80% of it dies at the dedup gate".
  //
  // Scale shape: the gates are pure projections over one corpus scan;
  // the keeper election is d40's single shuffle on the content hash
  // (only (hash, doc_id) moves); the final rollup is one hash aggregate
  // to |sources| rows. Nothing corpus-sized sorts or collects.
  //
  // Exactness: all flags and token counts are integers; retention is
  // one double division rounded once. Gate flags here are the
  // INDEPENDENT per-gate reads (not conditional survival), so columns
  // are individually auditable against t82/t75/d40.
  // -------------------------------------------------------------------
  def c88GateFunnel(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val rule = gopherRulesFrom(d).select(col("doc_id"), col("pass").cast(LongType).as("pass"))
    val learned = qualityScoresFrom(d).select(col("doc_id"), col("keep"))
    val base = d.select(col("doc_id"), col("source"),
      size(toks).cast(LongType).as("n_words"), graft.functions.HashFns.fastMd5(col("text")).as("h"))
    val keeper = base.groupBy(col("h")).agg(min(col("doc_id")).as("kid"))
    base.join(rule, "doc_id").join(learned, "doc_id").join(keeper, "h")
      .withColumn("uniq", (col("doc_id") === col("kid")).cast(LongType))
      .withColumn("all_g", col("pass") * col("keep") * col("uniq"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pass")).as("n_rule_pass"),
        sum(col("keep")).as("n_learned_keep"),
        sum(col("uniq")).as("n_unique"),
        sum(col("all_g")).as("n_surviving"),
        sum(col("n_words")).as("tokens_in"),
        sum(col("n_words") * col("all_g")).as("tokens_out"))
      .select(col("source"), col("n_docs"), col("n_rule_pass"),
        col("n_learned_keep"), col("n_unique"), col("n_surviving"),
        col("tokens_in"), col("tokens_out"),
        round(col("tokens_out").cast(DoubleType)
          / col("tokens_in").cast(DoubleType), 6).as("retention"))
      .orderBy(col("source"))
  }

  val c88GateFunnelSql: String = {
    s"""WITH $qcFeaturesCteSql,
       |sc AS (
       |  SELECT doc_id,
       |    CAST(${qcMarginSql(QcWeights, QcBias)} >= 0 AS BIGINT) AS keep
       |  FROM f),
       |${gopherLabCtesSql("doc_id, n_words")},
       |base AS (
       |  SELECT doc_id, source, md5(text) AS h FROM documents),
       |keeper AS (SELECT h, MIN(doc_id) AS kid FROM base GROUP BY 1),
       |j AS (
       |  SELECT b.source, lab.n_words, lab.pass, sc.keep,
       |    CAST(b.doc_id = k.kid AS BIGINT) AS uniq,
       |    lab.pass * sc.keep * CAST(b.doc_id = k.kid AS BIGINT) AS all_g
       |  FROM base b
       |  JOIN lab ON lab.doc_id = b.doc_id
       |  JOIN sc ON sc.doc_id = b.doc_id
       |  JOIN keeper k ON k.h = b.h)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(pass) AS BIGINT) AS n_rule_pass,
       |  CAST(SUM(keep) AS BIGINT) AS n_learned_keep,
       |  CAST(SUM(uniq) AS BIGINT) AS n_unique,
       |  CAST(SUM(all_g) AS BIGINT) AS n_surviving,
       |  CAST(SUM(n_words) AS BIGINT) AS tokens_in,
       |  CAST(SUM(n_words * all_g) AS BIGINT) AS tokens_out,
       |  ROUND(CAST(CAST(SUM(n_words * all_g) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(n_words) AS BIGINT) AS DOUBLE), 6) AS retention
       |FROM j
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // -------------------------------------------------------------------
  // t94: Cochran's Q across the three curation gates — the MATCHED
  // k-treatment test (Cochran 1950) that closes the gate-audit loop
  // c88 opened: c88 reports how many docs each gate passes per source,
  // t87 asks whether TWO gates disagree systematically; t94 asks, per
  // source, "do the THREE gates (t82 rule, t75 learned, d40 keeper)
  // have the same marginal pass rate on the SAME documents" — the
  // within-subject design (each doc is its own block), which a naive
  // three-way proportion test gets wrong by ignoring the pairing. With
  // k = 3 gates, column totals G_j, per-doc row totals L_i, T = ΣL:
  //   Q = (k−1)·(k·ΣG_j² − T²) / (k·T − ΣL_i²)   ~ χ²(k−1) under H0
  // The denominator is Σ L_i(k−L_i), zero iff every doc passes all
  // three gates or none — the degenerate all-agree corpus, reported as
  // guarded NULL (the t86/t88 convention).
  //
  // Scale shape: the gate flags are c88's machinery verbatim — two
  // projection gates over one corpus scan plus d40's single
  // content-hash shuffle — and Q collapses in ONE hash aggregate to
  // |sources| rows; ΣL² is a per-row product, never a second pass.
  //
  // Exactness: G_j, T, ΣL² are exact integers; Q's numerator and
  // denominator are pure integer arithmetic (DECIMAL(38,0) headroom at
  // cluster scale) and Q is ONE double division, rounded once.
  // -------------------------------------------------------------------
  def t94CochranQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val rule = gopherRulesFrom(d).select(col("doc_id"), col("pass").cast(LongType).as("pass"))
    val learned = qualityScoresFrom(d).select(col("doc_id"), col("keep"))
    val base = d.select(col("doc_id"), col("source"), graft.functions.HashFns.fastMd5(col("text")).as("h"))
    val keeper = base.groupBy(col("h")).agg(min(col("doc_id")).as("kid"))
    cochranQFrom(base.join(rule, "doc_id").join(learned, "doc_id").join(keeper, "h")
      .withColumn("uniq", (col("doc_id") === col("kid")).cast(LongType)))
  }

  /** Cochran's Q per source over any (source, pass, keep, uniq) binary
    * flag frame — spec entry point.
    */
  private[graft] def cochranQFrom(flags: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    flags
      .withColumn("l", col("pass") + col("keep") + col("uniq"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pass")).as("g_rule"),
        sum(col("keep")).as("g_learned"),
        sum(col("uniq")).as("g_unique"),
        sum(col("l") * col("l")).as("sl2"))
      .withColumn("t", col("g_rule") + col("g_learned") + col("g_unique"))
      .withColumn("den", lit(3L) * col("t") - col("sl2"))
      .select(col("source"), col("n_docs"), col("g_rule"), col("g_learned"),
        col("g_unique"),
        when(col("den") > 0L,
          round((lit(2L).cast(d38)
              * (lit(3L) * (col("g_rule").cast(d38) * col("g_rule")
                + col("g_learned").cast(d38) * col("g_learned")
                + col("g_unique").cast(d38) * col("g_unique"))
                - col("t").cast(d38) * col("t"))).cast(DoubleType)
            / col("den").cast(DoubleType), 6)).as("q_stat"))
      .orderBy(col("source"))
  }

  val t94CochranQSql: String = {
    s"""WITH $qcFeaturesCteSql,
       |sc AS (
       |  SELECT doc_id,
       |    CAST(${qcMarginSql(QcWeights, QcBias)} >= 0 AS BIGINT) AS keep
       |  FROM f),
       |${gopherLabCtesSql("doc_id")},
       |base AS (
       |  SELECT doc_id, source, md5(text) AS h FROM documents),
       |keeper AS (SELECT h, MIN(doc_id) AS kid FROM base GROUP BY 1),
       |j AS (
       |  SELECT b.source, lab.pass, sc.keep,
       |    CAST(b.doc_id = k.kid AS BIGINT) AS uniq,
       |    lab.pass + sc.keep + CAST(b.doc_id = k.kid AS BIGINT) AS l
       |  FROM base b
       |  JOIN lab ON lab.doc_id = b.doc_id
       |  JOIN sc ON sc.doc_id = b.doc_id
       |  JOIN keeper k ON k.h = b.h),
       |a AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(pass) AS BIGINT) AS g_rule,
       |    CAST(SUM(keep) AS BIGINT) AS g_learned,
       |    CAST(SUM(uniq) AS BIGINT) AS g_unique,
       |    CAST(SUM(l * l) AS BIGINT) AS sl2
       |  FROM j GROUP BY source),
       |w AS (
       |  SELECT *, g_rule + g_learned + g_unique AS t,
       |    3 * (g_rule + g_learned + g_unique) - sl2 AS den
       |  FROM a)
       |SELECT source, n_docs, g_rule, g_learned, g_unique,
       |  CASE WHEN den > 0 THEN
       |    ROUND(CAST(CAST(2 AS HUGEINT)
       |        * (3 * (CAST(g_rule AS HUGEINT) * g_rule
       |          + CAST(g_learned AS HUGEINT) * g_learned
       |          + CAST(g_unique AS HUGEINT) * g_unique)
       |          - CAST(t AS HUGEINT) * t) AS DOUBLE)
       |      / CAST(den AS DOUBLE), 6)
       |  END AS q_stat
       |FROM w
       |ORDER BY source""".stripMargin
  }

  // -------------------------------------------------------------------
  // t95: readability gate — Flesch reading ease + Flesch-Kincaid grade
  // (Flesch 1948; Kincaid 1975), the curation gate between t56's
  // surface-statistics quality score and t78's LM perplexity: a
  // document can pass every Gopher rule and still be unreadably dense
  // legal/OCR sludge, which these two closed-form scores flag from
  // three integer counts per document:
  //   ease  = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
  //   grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59
  // with sentences = maximal [.!?]+ runs and syllables = the standard
  // vowel-group approximation ([aeiouy]+ runs; group boundaries cannot
  // span a space, so the whole-text count equals the per-word sum).
  //
  // Scale shape: a pure projection — one corpus scan, three regexp
  // counters per row, no shuffle at all (the t82 gate class).
  //
  // Exactness: the three counts are exact integers; each score is ONE
  // fixed-shape double expression of those integers, rounded once;
  // documents with no sentence terminator or no words report guarded
  // NULL scores (the t86/t88 convention).
  // -------------------------------------------------------------------
  def t95Readability(spark: SparkSession, dir: String): DataFrame =
    readabilityFrom(docs(spark, dir)).orderBy(col("doc_id"))

  /** Per-doc readability over any (doc_id, text) frame — spec entry. */
  private[graft] def readabilityFrom(df: DataFrame): DataFrame = {
    val wps = col("n_words").cast(DoubleType) / col("n_sentences").cast(DoubleType)
    val spw = col("n_syllables").cast(DoubleType) / col("n_words").cast(DoubleType)
    df.select(col("doc_id"),
        size(toks).cast(LongType).as("n_words"),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast(LongType).as("n_sentences"),
        size(regexp_extract_all(col("text"), lit("[aeiouy]+"), lit(0)))
          .cast(LongType).as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        when(col("n_sentences") >= 1L && col("n_words") >= 1L,
          round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6))
          .as("flesch_ease"),
        when(col("n_sentences") >= 1L && col("n_words") >= 1L,
          round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6))
          .as("fk_grade"))
  }

  val t95ReadabilitySql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
      |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS n_syllables
      |  FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  CASE WHEN n_sentences >= 1 AND n_words >= 1 THEN
      |    ROUND(206.835
      |      - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
      |      - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
      |  END AS flesch_ease,
      |  CASE WHEN n_sentences >= 1 AND n_words >= 1 THEN
      |    ROUND(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
      |      + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
      |      - 15.59, 6)
      |  END AS fk_grade
      |FROM c
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t96: TextRank keyword extraction (Mihalcea & Tarau 2004) — weighted
  // PageRank over the corpus-wide word co-occurrence graph (adjacent
  // word pairs), the graph-centrality sibling of t65's TF-IDF and t83's
  // dictionary tags: TF-IDF scores a word by counting, TextRank by how
  // central it sits in the co-occurrence structure, which surfaces
  // connective domain vocabulary that raw frequency over- or
  // under-ranks. Normalized weighted PageRank on the undirected graph:
  //   r(v) = (1−d)/N + d · Σ_{u~v} w(u,v)/wdeg(u) · r(u),   d = 0.85
  // five rounds unrolled (q63's fixed-iteration discipline), top 30
  // words by final rank.
  //
  // Scale shape: the bigram fan-out is a pure projection (slice+zip —
  // no window, no self-join); the graph collapses to the DISTINCT
  // bigram vocabulary (sublinear in the corpus, the t89 axis); each
  // round broadcasts the node-sized (node, rank, weighted degree)
  // state onto the edge list while it fits Graph.boundedBroadcast's
  // limit — edges never shuffle to learn ranks (q63's idiom), and
  // per-edge work is one integer multiply-divide. Rounds 1–4 checkpoint
  // their state, so a round's plan never grows with the round number.
  //
  // Determinism: ranks live on an integer 1e10 grid with floor
  // division (the q63 discipline — 1e10 keeps r·85·w inside int64 at
  // any realistic bigram multiplicity); ties in the top-30 break on
  // the word itself. Pure integer arithmetic — nothing to snap.
  // -------------------------------------------------------------------
  private[operators] val TrScale = 10000000000L // 1e10 rank grid
  private[operators] val TrIters = 5

  def t96TextRank(spark: SparkSession, dir: String): DataFrame =
    textRankFrom(docs(spark, dir)).limit(30)

  /** Full TextRank ranking over any (doc_id, text) frame — spec entry
    * point (unlimited; t96 takes the top 30).
    */
  private[graft] def textRankFrom(df: DataFrame): DataFrame = {
    // adjacent-pair fan-out as a projection: zip the token lane with
    // its own tail — no window, no positional join
    val und = df
      .select(explode(expr(
        """transform(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),
          |  (w, i) -> named_struct('x', w, 'y', element_at(split(text, ' '), i + 2)))"""
          .stripMargin)).as("p"))
      .select(least(col("p.x"), col("p.y")).as("a"),
        greatest(col("p.x"), col("p.y")).as("b"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
    val e = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .graftCheckpoint(true)
    val nodes = e.groupBy(col("src").as("node")).agg(sum(col("w")).as("wd"))
      .graftCheckpoint(true)
    // one cheap job over the checkpointed node frame (q63's pattern):
    // the node count is the rank normalizer (a plan literal)
    val nNodes = nodes.count()
    // an empty graph has no rows to divide; max(·, 1) keeps the literals
    // defined without a branch
    val n = math.max(nNodes, 1L)
    val base = (TrScale * 15) / (100 * n)
    var st = nodes.select(col("node"), lit(TrScale / n).as("r"), col("wd"))
    for (i <- 1 to TrIters) {
      // above the broadcast limit this degrades to a shuffle join on
      // src; the edge set still moves only once per round
      val contrib = e
        .join(Graph.boundedBroadcast(st), col("src") === col("node"))
        .select(col("dst"), expr("(r * 85 * w) div (100 * wd)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      st = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), (lit(base) + coalesce(col("inflow"), lit(0L))).as("r"),
          col("wd"))
      // the last round stays lazy: the ranking reads it once
      if (i < TrIters) st = st.graftCheckpoint(true)
    }
    st.select(col("node").as("word"), col("r"))
      .orderBy(col("r").desc, col("word"))
  }

  val t96TextRankSql: String = {
    val S = TrScale
    val base =
      s"""WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
         |bg AS (
         |  SELECT unnest(list_transform(range(1, len(ws)),
         |    i -> struct_pack(x := ws[i], y := ws[i + 1]))) AS p
         |  FROM t),
         |und AS (
         |  SELECT least(p.x, p.y) AS a, greatest(p.x, p.y) AS b,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM bg WHERE p.x <> p.y GROUP BY 1, 2),
         |e AS (
         |  SELECT a AS src, b AS dst, w FROM und
         |  UNION ALL SELECT b, a, w FROM und),
         |wdeg AS (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS wd FROM e GROUP BY 1),
         |n AS (SELECT COUNT(*) AS cnt FROM wdeg),
         |r0 AS (SELECT node, CAST($S AS BIGINT) // (SELECT cnt FROM n) AS r FROM wdeg)"""
        .stripMargin
    val iters = (1 to TrIters).map { k =>
      s""",
         |r$k AS (
         |  SELECT wdeg.node,
         |    (CAST($S AS BIGINT) * 15) // (100 * (SELECT cnt FROM n))
         |      + COALESCE(SUM((p.r * 85 * e.w) // (100 * dg.wd)), 0) AS r
         |  FROM wdeg
         |  LEFT JOIN e ON e.dst = wdeg.node
         |  LEFT JOIN r${k - 1} p ON p.node = e.src
         |  LEFT JOIN wdeg dg ON dg.node = e.src
         |  GROUP BY wdeg.node)""".stripMargin
    }.mkString
    base + iters +
      s"""
         |SELECT node AS word, CAST(r AS BIGINT) AS r FROM r$TrIters
         |ORDER BY r DESC, word LIMIT 30""".stripMargin
  }

  // -------------------------------------------------------------------
  // t97: Kendall's coefficient of concordance W (Kendall & Babington
  // Smith 1939) — the EFFECT SIZE for t91's Friedman test: χ²_F says
  // whether the sources rank the languages consistently at all; W says
  // HOW consistently, on the interpretable [0, 1] scale a datasheet
  // reports (W = 1: every source orders the languages identically;
  // W = 0: no agreement). With complete blocks, W = χ²_F / (b·(k−1)) —
  // derived here from t91's OWN rounded χ²_F so the two reports can
  // never drift apart.
  //
  // Scale shape: t91's — one corpus shuffle to |sources × langs| cells;
  // everything after is bounded. The per-language Friedman rows carry
  // identical (b, k, χ²) by construction (only complete blocks rank),
  // so the global W row is a DISTINCT over the bounded frame.
  //
  // Exactness: χ²_F is t91's value verbatim; W is one division of it,
  // rounded once — both engines divide the SAME rounded χ².
  // -------------------------------------------------------------------
  def t97KendallW(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val sc = qualityScoresFrom(d).select(col("doc_id"), col("score_n9"))
    val cells = d.select(col("doc_id"), col("lang"), col("source"))
      .join(sc, "doc_id")
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("score_n9")).as("s9"), count(lit(1)).as("cnt"))
    friedmanFrom(cells)
      .select(col("b").as("n_blocks"), col("k"), col("chi2").as("chi2_f"))
      .distinct()
      .select(col("n_blocks"), col("k"), col("chi2_f"),
        round(col("chi2_f")
          / (col("n_blocks") * (col("k") - lit(1L))).cast(DoubleType), 6)
          .as("kendall_w"))
      .orderBy(col("n_blocks"))
  }

  val t97KendallWSql: String = {
    s"""WITH $qcFeaturesCteSql,
       |$qcScoreCteSql,
       |cells AS (
       |  SELECT d.source, d.lang, CAST(SUM(sc.score_n9) AS BIGINT) AS s9,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM documents d JOIN sc USING (doc_id) GROUP BY 1, 2),
       |kk AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS k FROM cells),
       |fl AS (
       |  SELECT source, lang, CAST(s9 AS DOUBLE) / CAST(cnt AS DOUBLE) AS mean_d
       |  FROM cells),
       |bs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS cells FROM fl GROUP BY 1),
       |comp AS (
       |  SELECT fl.*, kk.k FROM fl JOIN bs USING (source) CROSS JOIN kk
       |  WHERE bs.cells = kk.k),
       |ranked AS (
       |  SELECT lang, k,
       |    2 * CAST(RANK() OVER (PARTITION BY source ORDER BY mean_d) AS BIGINT)
       |      + CAST(COUNT(*) OVER (PARTITION BY source, mean_d) AS BIGINT) - 1 AS rd
       |  FROM comp),
       |rj AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS b,
       |    CAST(SUM(rd) AS BIGINT) AS r2sum, CAST(MAX(k) AS BIGINT) AS k
       |  FROM ranked GROUP BY 1),
       |x AS (
       |  SELECT b, k,
       |    ROUND(3.0 * (SELECT SUM(CAST(r2sum AS HUGEINT) * r2sum) FROM rj)
       |        / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE))
       |      - 3.0 * CAST(b AS DOUBLE) * CAST(k + 1 AS DOUBLE), 6) AS chi2_f
       |  FROM rj)
       |SELECT DISTINCT b AS n_blocks, k, chi2_f,
       |  ROUND(chi2_f / CAST(b * (k - 1) AS DOUBLE), 6) AS kendall_w
       |FROM x
       |ORDER BY n_blocks""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("t50_langid", t50LangId _, t50LangIdSql),
    QueryDef.sql("t82_gopher_rules", t82GopherRules _, t82GopherRulesSql),
    QueryDef.sql("t83_keyword_tags", t83KeywordTags _, t83KeywordTagsSql),
    QueryDef.sql("t84_winnowing", t84Winnowing _, t84WinnowingSql),
    QueryDef.sql("t85_calibration", t85Calibration _, t85CalibrationSql),
    QueryDef.sql("t86_roc_auc", t86RocAuc _, t86RocAucSql),
    QueryDef.sql("t87_gate_agreement", t87GateAgreement _, t87GateAgreementSql),
    QueryDef.sql("t88_avg_precision", t88AveragePrecision _, t88AveragePrecisionSql),
    QueryDef.sql("t89_vocab_coverage", t89VocabCoverage _, t89VocabCoverageSql),
    QueryDef.sql("t90_hosmer_lemeshow", t90HosmerLemeshow _, t90HosmerLemeshowSql),
    QueryDef.sql("t91_friedman", t91Friedman _, t91FriedmanSql),
    QueryDef.sql("t92_fertility", t92Fertility _, t92FertilitySql),
    QueryDef.sql("c88_gate_funnel", c88GateFunnel _, c88GateFunnelSql),
    QueryDef.sql("t94_cochran_q", t94CochranQ _, t94CochranQSql),
    QueryDef.sql("t95_readability", t95Readability _, t95ReadabilitySql),
    QueryDef.sql("t96_textrank", t96TextRank _, t96TextRankSql),
    QueryDef.sql("t97_kendall_w", t97KendallW _, t97KendallWSql),
    QueryDef.sql("t51_quality", t51Quality _, t51QualitySql),
    QueryDef.sql("t52_token_count", t52TokenCount _, t52TokenCountSql),
    QueryDef.sql("t53_fingerprint", t53Fingerprint _, t53FingerprintSql),
    QueryDef.sql("t54_tfidf", t54TfIdf _, t54TfIdfSql),
    QueryDef.sql("t55_repetition", t55Repetition _, t55RepetitionSql),
    QueryDef.sql("t56_boilerplate", t56Boilerplate _, t56BoilerplateSql),
    QueryDef.sql("t57_sequence_pack", t57SequencePack _, t57SequencePackSql),
    QueryDef.sql("t58_vocab", t58Vocab _, t58VocabSql),
    QueryDef.sql("t59_bm25", t59Bm25 _, t59Bm25Sql),
    QueryDef.sql("t60_heavy_hitters", t60HeavyHitters _, t60HeavyHittersSql),
    QueryDef.sql("t61_lm_score", t61LmScore _, t61LmScoreSql),
    QueryDef.sql("t62_pii_redact", t62PiiRedact _, t62PiiRedactSql),
    QueryDef.sql("t63_normalize", t63Normalize _, t63NormalizeSql),
    QueryDef.sql("t64_inverted_index", t64InvertedIndex _, t64InvertedIndexSql),
    QueryDef.sql("t65_pmi_collocations", t65PmiCollocations _, t65PmiCollocationsSql),
    QueryDef.sql("t66_zipf_slope", t66ZipfSlope _, t66ZipfSlopeSql),
    QueryDef.sql("t67_oov_rate", t67OovRate _, t67OovRateSql),
    QueryDef.sql("t68_bpe_merge", t68BpeMergeRound _, t68BpeMergeRoundSql),
    QueryDef.sql("t69_lang_confusion", t69LangConfusion _, t69LangConfusionSql),
    QueryDef.sql("t70_feature_hash", t70FeatureHash _, t70FeatureHashSql),
    QueryDef.sql("t71_entropy", t71Entropy _, t71EntropySql),
    QueryDef.sql("t72_chunks", t72Chunks _, t72ChunksSql),
    QueryDef.sql("t75_quality_classifier", t75QualityClassifier _, t75QualityClassifierSql),
    QueryDef.sql("t76_quality_grad_step", t76QualityGradStep _, t76QualityGradStepSql),
    QueryDef.sql("t77_kn_lm_score", t77KnLmScore _, t77KnLmScoreSql),
    QueryDef.sql("t78_perplexity_buckets", t78PerplexityBuckets _, t78PerplexityBucketsSql),
    QueryDef.sql("t79_bpe_train", t79BpeTrain _, t79BpeTrainSql),
    QueryDef.sql("t81_bpe_encode", t81BpeEncode _, t81BpeEncodeSql),
    QueryDef.sql("t98_bpe_budget_train", t98BpeBudgetTrain _, t98BpeBudgetTrainSql),
    QueryDef.sql("t99_bpe_budget_encode", t99BpeBudgetEncode _, t99BpeBudgetEncodeSql),
    QueryDef.sql("t80_heaps_law", t80HeapsLaw _, t80HeapsLawSql),
  )
}
