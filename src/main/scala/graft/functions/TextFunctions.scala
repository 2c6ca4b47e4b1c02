package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.text.Normalizer
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** Scala ports of the reference's pure-Python record helpers (F1-F13).
  *
  * Reference: `airflow/src/silver/transformer.py:75-368`. These are pure
  * functions usable inside typed `Dataset` transformations; `Udfs` exposes
  * them to the Column/SQL world. Semantics (including rounding, default
  * values and canonical-JSON key order) are pinned by ScalaTest golden
  * cases so downstream fingerprints/ids stay stable.
  */
object TextFunctions {

  /** F1 — `normalize_text` (transformer.py:75-82): NFKD, strip combining
    * marks, drop non-ASCII, lower, collapse non-alphanumerics to single
    * spaces, trim.
    */
  def normalizeText(value: String): String = {
    if (value == null || value.isEmpty) return ""
    val nfkd = Normalizer.normalize(value, Normalizer.Form.NFKD)
    val noCombining = nfkd.filterNot(ch => Character.getType(ch) == Character.NON_SPACING_MARK ||
      Character.getType(ch) == Character.COMBINING_SPACING_MARK ||
      Character.getType(ch) == Character.ENCLOSING_MARK)
    val ascii = noCombining.filter(_ < 128)
    val lowered = ascii.toLowerCase
    val spaced = lowered.replaceAll("[^a-z0-9]+", " ")
    spaced.replaceAll("\\s+", " ").trim
  }

  /** F3 — `strip_surrogate_chars` (transformer.py:116-120). */
  def stripSurrogateChars(value: String): String = {
    if (value == null) return ""
    value.filterNot(ch => ch >= 0xD800 && ch <= 0xDFFF)
  }

  /** F2 — `clean_scalar` (transformer.py:85-91): trim + surrogate strip,
    * empty → None. (Collection inputs are statically impossible here.)
    */
  def cleanScalar(value: String): Option[String] = {
    if (value == null) return None
    val text = stripSurrogateChars(value.trim)
    if (text.isEmpty) None else Some(text)
  }

  /** F2 — `clean_string_list` (transformer.py:94-113): per-item clean,
    * order-preserving dedup.
    */
  def cleanStringList(values: Seq[String]): Seq[String] = {
    if (values == null) return Seq.empty
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    values.foreach { v => cleanScalar(v).foreach(seen.add) }
    seen.toSeq
  }

  /** F5 — `ensure_language_code` (transformer.py:190-202). */
  def ensureLanguageCode(value: String): String = {
    val text = cleanScalar(value).getOrElse("en").toLowerCase
    val aliases = Map("eng" -> "en", "english" -> "en", "vie" -> "vi", "vietnamese" -> "vi")
    aliases.get(text) match {
      case Some(code) => code
      case None => if (text.length >= 2) text.substring(0, 2) else "en"
    }
  }

  /** F6 — `derive_source_system` (transformer.py:205-225). */
  def deriveSourceSystem(record: Map[String, String]): String = {
    for (key <- Seq("source_system", "source", "provider", "scraper")) {
      record.get(key).flatMap(cleanScalar) match {
        case Some(v) => return v.toLowerCase
        case None =>
      }
    }
    val url = record.get("url").flatMap(cleanScalar)
      .orElse(record.get("link").flatMap(cleanScalar))
    url.foreach { u0 =>
      val u = u0.toLowerCase
      if (u.contains("ocw.mit.edu")) return "mit_ocw"
      if (u.contains("openstax")) return "openstax"
      if (u.contains("open.umn.edu")) return "otl"
      if (u.contains("oercommons")) return "oer_commons"
    }
    val bronzePath = record.get("bronze_source_path").flatMap(cleanScalar).getOrElse("").toLowerCase
    for (known <- Seq("mit_ocw", "openstax", "otl", "oer_commons"))
      if (bronzePath.contains(known)) return known
    "unknown"
  }

  /** F7 — `derive_publisher` (transformer.py:228-238). */
  def derivePublisher(publisher: Option[String], sourceSystem: String): String =
    publisher.flatMap(cleanScalar) match {
      case Some(p) => p
      case None =>
        Map(
          "mit_ocw" -> "MIT OpenCourseWare",
          "openstax" -> "OpenStax",
          "otl" -> "Open Textbook Library",
          "oer_commons" -> "OER Commons",
        ).getOrElse(sourceSystem, "Unknown")
    }

  /** F8 — `derive_license` (transformer.py:241-247): URL-as-name swap. */
  def deriveLicense(name0: Option[String], url0: Option[String]): (Option[String], Option[String]) = {
    var name = name0.flatMap(cleanScalar)
    var url = url0.flatMap(cleanScalar)
    if (name.exists(_.toLowerCase.startsWith("http")) && url.isEmpty) {
      url = name
      name = Some("License")
    }
    (name, url)
  }

  private val dtFormats = Seq(
    "yyyy-MM-dd",
    "yyyy/MM/dd",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
  )

  /** F9 — `parse_datetime_string` (transformer.py:250-278): year-only,
    * ISO-8601 (with Z→+00:00), then 5 explicit formats.
    */
  def parseDatetimeString(value: String): Option[LocalDateTime] = {
    val textOpt = cleanScalar(value)
    if (textOpt.isEmpty) return None
    var text = textOpt.get
    if (text.length == 4 && text.forall(_.isDigit)) {
      return try Some(LocalDateTime.of(text.toInt, 1, 1, 0, 0, 0)) catch { case _: Exception => None }
    }
    text = text.replace("Z", "+00:00")
    // fromisoformat-equivalent: offset datetime, local datetime, date-only
    try return Some(java.time.OffsetDateTime.parse(text).toLocalDateTime) catch { case _: Exception => }
    try return Some(LocalDateTime.parse(text)) catch { case _: Exception => }
    try return Some(java.time.LocalDate.parse(text).atStartOfDay) catch { case _: Exception => }
    for (fmt <- dtFormats) {
      try {
        val f = DateTimeFormatter.ofPattern(fmt)
        return Some(
          if (fmt.contains("H")) LocalDateTime.parse(text, f)
          else java.time.LocalDate.parse(text, f).atStartOfDay)
      } catch { case _: Exception => }
    }
    None
  }

  /** F10 — `select_title` (transformer.py:281-286). */
  def selectTitle(record: Map[String, String]): Option[String] = {
    for (key <- Seq("title", "course_title", "book_title", "resource_title")) {
      record.get(key).flatMap(cleanScalar) match {
        case some @ Some(_) => return some
        case None =>
      }
    }
    None
  }

  private def sha1Hex(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** F10 — `select_identifier` (transformer.py:289-302). */
  def selectIdentifier(record: Map[String, String], sourceSystem: String): Option[String] = {
    for (key <- Seq("resource_id", "course_id", "id", "uid")) {
      record.get(key).flatMap(cleanScalar) match {
        case Some(v) => return Some(s"${sourceSystem}_$v")
        case None =>
      }
    }
    val url = record.get("url").flatMap(cleanScalar)
      .orElse(record.get("link").flatMap(cleanScalar))
    url match {
      case Some(u) => return Some(s"${sourceSystem}_${sha1Hex(u).take(24)}")
      case None =>
    }
    selectTitle(record).flatMap { title =>
      val slug = normalizeText(title).replaceAll("[^a-z0-9]+", "_").take(80)
        .stripPrefix("_").stripSuffix("_")
      if (slug.nonEmpty) Some(s"${sourceSystem}_$slug") else None
    }
  }

  /** F11 — `deterministic_hash` (transformer.py:305-307): sha256 hex of
    * surrogate-stripped UTF-8.
    */
  def deterministicHash(value: String): String = {
    val safe = stripSurrogateChars(if (value == null) "" else value)
    MessageDigest.getInstance("SHA-256")
      .digest(safe.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Canonical JSON encoding matching Python's
    * `json.dumps(payload, ensure_ascii=False, sort_keys=True)` — i.e.
    * default separators `", "` / `": "` and sorted keys. Values here are
    * only strings, string-lists, ints and booleans (all F12 needs).
    */
  def canonicalJson(payload: Map[String, Any]): String = {
    def enc(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      case xs: Seq[_] => xs.map(enc).mkString("[", ", ", "]")
      case b: Boolean => if (b) "true" else "false"
      case i: Int => i.toString
      case l: Long => l.toString
      case d: Double => if (d == d.floor && !d.isInfinite) d.toLong.toString + ".0" else d.toString
      case other => enc(other.toString)
    }
    payload.toSeq.sortBy(_._1).map { case (k, v) => enc(k) + ": " + enc(v) }
      .mkString("{", ", ", "}")
  }

  /** F12 — `compute_record_fingerprint` (transformer.py:310-337): sha256 of
    * the canonical sorted-key JSON of 11 fixed fields (None → "", creator
    * and pdf lists sorted with empties dropped).
    */
  def computeRecordFingerprint(
      resourceId: String,
      sourceSystem: String,
      sourceUrl: Option[String],
      title: Option[String],
      description: Option[String],
      creators: Seq[String],
      publisherName: Option[String],
      language: Option[String],
      licenseName: Option[String],
      licenseUrl: Option[String],
      pdfPaths: Seq[String]): String = {
    val payload = Map[String, Any](
      "resource_id" -> resourceId,
      "source_system" -> sourceSystem,
      "source_url" -> sourceUrl.getOrElse(""),
      "title" -> title.getOrElse(""),
      "description" -> description.getOrElse(""),
      "creators" -> Option(creators).getOrElse(Seq.empty).filter(c => c != null && c.nonEmpty).sorted,
      "publisher_name" -> publisherName.getOrElse(""),
      "language" -> language.getOrElse(""),
      "license_name" -> licenseName.getOrElse(""),
      "license_url" -> licenseUrl.getOrElse(""),
      "pdf_paths" -> Option(pdfPaths).getOrElse(Seq.empty).filter(p => p != null && p.nonEmpty).sorted,
    )
    deterministicHash(canonicalJson(payload))
  }

  /** F13 — `compute_quality_score` (transformer.py:340-368): weighted
    * completeness, capped at 1.0, rounded half-up to 3 decimals (Spark
    * round semantics; the weight grid keeps banker's-vs-half-up moot).
    */
  def computeQualityScore(
      title: Option[String],
      description: Option[String],
      creators: Seq[String],
      publisherName: Option[String],
      language: Option[String],
      licenseName: Option[String],
      sourceUrl: Option[String],
      pdfCount: Int): Double = {
    var score = 0.0
    if (title.exists(_.nonEmpty)) score += 0.18
    if (description.exists(_.length >= 80)) score += 0.22
    if (creators != null && creators.nonEmpty) score += 0.12
    if (publisherName.exists(p => p.nonEmpty && p != "Unknown")) score += 0.08
    if (language.exists(_.nonEmpty)) score += 0.05
    if (licenseName.exists(_.nonEmpty)) score += 0.12
    if (sourceUrl.exists(_.nonEmpty)) score += 0.13
    if (pdfCount > 0) score += 0.10
    BigDecimal(math.min(score, 1.0)).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  // --- Q4-style text analytics (chatbot_api.py:69-119) ----------------

  /** English stopword set used by keyword extraction and the lang-ID
    * heuristic (chatbot_api.py:84-90 keeps a compact list; ours mirrors
    * the spirit, pinned for oracle parity).
    */
  val EnStopwords: Set[String] = Set(
    "the", "a", "an", "of", "and", "to", "in", "is", "for", "on", "with",
    "at", "by", "or", "be", "are", "was", "what", "how", "why")

  /** Q4 — keyword extraction: whitespace tokens minus stopwords,
    * order-preserving (chatbot_api.py:92-119).
    */
  def extractKeywords(text: String): Seq[String] = {
    if (text == null || text.trim.isEmpty) return Seq.empty
    text.trim.split("\\s+").toSeq.filterNot(t => EnStopwords.contains(t.toLowerCase))
  }

  /** Q4 — subject expansion map (chatbot_api.py:180-185 verbatim
    * semantics: known subjects fan out to their synonym strings; an
    * unknown subject falls back to the ORIGINAL question, not the
    * extracted subject). */
  val QueryExpansions: Map[String, String] = Map(
    "math" -> "mathematics algebra calculus",
    "toán" -> "toán học mathematics algebra calculus",
    "database" -> "database SQL data management")

  // (?U) = UNICODE_CHARACTER_CLASS: Python's re treats \w/\b as Unicode
  // by default, Java as ASCII — without it "toán" extracts as "to"
  private val BookPattern =
    """(?U)\b(book|textbook|sách|giáo trình|tài liệu)\b""".r
  private val SubjectPattern = """(?U)\b(of|về|cho)\s+(\w+)""".r

  /** Q4 — query expansion before lexical scoring
    * (chatbot_api.py:174-185): a "find me a book/textbook …" question
    * has its subject ("of/về/cho X") looked up in the expansion map so
    * BM25 sees the subject's synonyms; anything else passes through
    * unchanged. */
  def expandQuery(question: String): String = {
    if (question == null || question.isEmpty) return question
    val q = question.toLowerCase
    if (BookPattern.findFirstIn(q).isEmpty) question
    else SubjectPattern.findFirstMatchIn(q) match {
      case Some(m) => QueryExpansions.getOrElse(m.group(2), question)
      case None => question
    }
  }

  /** Q4 — language-ID heuristic: Vietnamese charset probe first
    * (chatbot_api.py:69-77), else English marker-word count, else unknown.
    */
  def detectLanguage(text: String): String = {
    if (text == null || text.isEmpty) return "unknown"
    val viChars = "ăâđêôơưàảãáạằẳẵắặầẩẫấậèẻẽéẹềểễếệìỉĩíịòỏõóọồổỗốộờởỡớợùủũúụừửữứựỳỷỹýỵ"
    if (text.toLowerCase.exists(viChars.contains(_))) return "vi"
    val tokens = text.toLowerCase.split("\\s+")
    val markers = tokens.count(EnStopwords.contains)
    if (markers >= 1) "en" else "unknown"
  }

  /** Rolling polynomial document fingerprint: fold chars as
    * `acc*31 + code (mod 2147483647)` seeded with 7 — kept in 31-bit
    * space so a DuckDB `list_reduce` oracle can replicate it without
    * bigint overflow.
    */
  def rollingFingerprint(text: String): Long = {
    if (text == null) return 7L
    var acc = 7L
    var i = 0
    while (i < text.length) {
      acc = (acc * 31 + text.charAt(i).toLong) % 2147483647L
      i += 1
    }
    acc
  }
}
