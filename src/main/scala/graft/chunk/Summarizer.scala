package graft.chunk

/** F23 — multilingual extractive summarizer (semantics of
  * `airflow/src/hierarchical/summarizer.py:18-157`): sentence split,
  * noise filter (alphabetic ratio ≥ 0.45), character 3-5gram TF-IDF
  * sentence scoring, top-n sentences re-emitted in original order;
  * chapter/document composite summaries stack the same primitive.
  *
  * Pure Scala, deterministic, serializable — usable inside typed
  * `Dataset` transforms the same way the chunkers are. No model, no
  * external tokenizer: char-ngram TF-IDF is language-agnostic (the
  * reference chose char_wb for exactly that reason).
  */
object Summarizer {

  final case class Config(
      maxSentences: Int = 3,
      minSentenceChars: Int = 20,
      minAlphaRatio: Double = 0.45,
      ngramMin: Int = 3,
      ngramMax: Int = 5)

  /** Sentence split on terminal punctuation / newlines, trimmed,
    * length-filtered. */
  private val SentenceBoundary =
    java.util.regex.Pattern.compile("(?<=[.!?])\\s+|\\n+")

  private[chunk] def splitSentences(text: String, cfg: Config): Vector[String] = {
    if (text == null || text.isEmpty) return Vector.empty
    // Pattern.split(input) == String.split(regex): limit 0, trailing
    // empties dropped
    SentenceBoundary.split(text).toVector
      .map(_.trim)
      .filter(_.length >= cfg.minSentenceChars)
  }

  /** Noise filter: keep sentences whose letter ratio clears the bar
    * (drops page numbers, tables, code debris). */
  private[graft] def alphaRatio(s: String): Double = {
    if (s.isEmpty) return 0.0
    s.count(_.isLetter).toDouble / s.length
  }

  private def charNgrams(s: String, cfg: Config): Vector[String] = {
    val padded = s.toLowerCase
    (cfg.ngramMin to cfg.ngramMax).toVector.flatMap { n =>
      if (padded.length < n) Vector.empty
      else (0 to padded.length - n).map(i => padded.substring(i, i + n))
    }
  }

  /** Score sentences by mean char-ngram TF-IDF weight and return the
    * top-n in ORIGINAL order (an extract, not a ranking). */
  def summarize(text: String, cfg: Config = Config()): Vector[String] = {
    val sentences = splitSentences(text, cfg).filter(alphaRatio(_) >= cfg.minAlphaRatio)
    if (sentences.isEmpty) return Vector.empty
    if (sentences.size <= cfg.maxSentences) return sentences

    val grams = sentences.map(charNgrams(_, cfg))
    val n = sentences.size
    val df = grams.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size)
    val idf = df.map { case (g, d) => g -> (math.log((1.0 + n) / (1.0 + d)) + 1.0) }.toMap

    val scored = sentences.indices.map { i =>
      val tf = grams(i).groupBy(identity).view.mapValues(_.size.toDouble)
      val weights = tf.map { case (g, f) => f * idf(g) }
      val norm = math.sqrt(weights.map(w => w * w).sum)
      val score = if (norm == 0.0 || grams(i).isEmpty) 0.0
        else weights.sum / norm / math.sqrt(grams(i).size.toDouble)
      (i, score)
    }
    scored.sortBy { case (i, score) => (-score, i) }
      .take(cfg.maxSentences)
      .map(_._1).sorted
      .map(sentences(_)).toVector
  }

  /** One summary string (sentences joined), capped for storage. */
  def summaryText(text: String, cfg: Config = Config(), maxChars: Int = 1200): String = {
    val joined = summarize(text, cfg).mkString(" ")
    if (joined.length <= maxChars) joined else joined.substring(0, maxChars).trim
  }
}
