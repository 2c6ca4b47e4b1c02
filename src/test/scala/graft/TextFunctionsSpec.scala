package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._

/** Golden-value pins for the F1-F13 scalar ports. Expected values were
  * computed with the reference's own Python functions
  * (`airflow/src/silver/transformer.py:75-368`), so a green run means the
  * Scala semantics — including canonical-JSON key order, rounding, and
  * default handling — produce byte-identical fingerprints/ids.
  */
class TextFunctionsSpec extends AnyFunSuite {

  test("F1 normalize_text strips diacritics, lowers, collapses") {
    assert(normalizeText("Café Đà-Nẵng: Kỹ thuật Lập trình 101!") ==
      "cafe a nang ky thuat lap trinh 101")
    assert(normalizeText("  Machine-Learning & AI (2nd Ed.) ") ==
      "machine learning ai 2nd ed")
    assert(normalizeText(null) == "")
    assert(normalizeText("") == "")
  }

  test("F2 clean_scalar trims and drops empties") {
    assert(cleanScalar("  x  ") == Some("x"))
    assert(cleanScalar("   ") == None)
    assert(cleanScalar(null) == None)
  }

  test("F2 clean_string_list dedups order-preserving") {
    assert(cleanStringList(Seq(" b ", "a", "b", null, "", "a")) == Seq("b", "a"))
    assert(cleanStringList(null) == Seq.empty)
  }

  test("F3 strip_surrogate_chars drops U+D800-DFFF") {
    val bad = new String(Array('a', 0xD800.toChar, 'b', 0xDFFF.toChar, 'c'))
    assert(stripSurrogateChars(bad) == "abc")
  }

  test("F5 ensure_language_code aliases and truncates") {
    assert(ensureLanguageCode("English") == "en")
    assert(ensureLanguageCode("vie") == "vi")
    assert(ensureLanguageCode("FR-fr") == "fr")
    assert(ensureLanguageCode(null) == "en")
    assert(ensureLanguageCode("x") == "en")
  }

  test("F6 derive_source_system probes keys, then URL, then path") {
    assert(deriveSourceSystem(Map("source" -> "MIT_OCW")) == "mit_ocw")
    assert(deriveSourceSystem(Map("url" -> "https://ocw.mit.edu/courses/6006")) == "mit_ocw")
    assert(deriveSourceSystem(Map("link" -> "https://openstax.org/books/biology")) == "openstax")
    assert(deriveSourceSystem(Map("bronze_source_path" -> "/bronze/oer_commons/x.json")) == "oer_commons")
    assert(deriveSourceSystem(Map.empty) == "unknown")
  }

  test("F7 derive_publisher maps source with Unknown default") {
    assert(derivePublisher(Some("Springer"), "mit_ocw") == "Springer")
    assert(derivePublisher(None, "mit_ocw") == "MIT OpenCourseWare")
    assert(derivePublisher(None, "nope") == "Unknown")
  }

  test("F8 derive_license swaps URL-as-name") {
    assert(deriveLicense(Some("https://creativecommons.org/licenses/by/4.0/"), None) ==
      (Some("License"), Some("https://creativecommons.org/licenses/by/4.0/")))
    assert(deriveLicense(Some("CC BY"), Some("http://x")) == (Some("CC BY"), Some("http://x")))
    assert(deriveLicense(None, None) == (None, None))
  }

  test("F9 parse_datetime_string handles year-only, ISO, explicit formats") {
    import java.time.LocalDateTime
    assert(parseDatetimeString("2023") == Some(LocalDateTime.of(2023, 1, 1, 0, 0)))
    assert(parseDatetimeString("2023-05-06T07:08:09Z") ==
      Some(LocalDateTime.of(2023, 5, 6, 7, 8, 9)))
    assert(parseDatetimeString("2023-05-06 07:08:09") ==
      Some(LocalDateTime.of(2023, 5, 6, 7, 8, 9)))
    assert(parseDatetimeString("2023/05/06") == Some(LocalDateTime.of(2023, 5, 6, 0, 0)))
    assert(parseDatetimeString("2023-05-06") == Some(LocalDateTime.of(2023, 5, 6, 0, 0)))
    assert(parseDatetimeString("not a date") == None)
    assert(parseDatetimeString(null) == None)
  }

  test("F10 select_title / select_identifier fallback chain") {
    assert(selectTitle(Map("course_title" -> "Algo", "title" -> " ")) == Some("Algo"))
    assert(selectIdentifier(Map("id" -> "42"), "mit_ocw") == Some("mit_ocw_42"))
    // sha1("https://x.y/z").take(24) == "56dbf99716a8210cb344c278"
    assert(selectIdentifier(Map("url" -> "https://x.y/z"), "src") ==
      Some("src_56dbf99716a8210cb344c278"))
    assert(selectIdentifier(Map("title" -> "Intro to AI!"), "src") == Some("src_intro_to_ai"))
    assert(selectIdentifier(Map.empty, "src") == None)
  }

  test("F11 deterministic_hash matches python hashlib golden") {
    assert(deterministicHash("hello world") ==
      "b94d27b9934d3e08a52e52d7da7dabfac484efe37a5380ee9088f7ace2efcde9")
  }

  test("F12 record fingerprint matches python json.dumps golden") {
    // Golden computed with transformer.py:310-337 exactly:
    // sha256 of {"creators": ["Erik Demaine", "Srini Devadas"], ...}
    val got = computeRecordFingerprint(
      resourceId = "mit_ocw_6006",
      sourceSystem = "mit_ocw",
      sourceUrl = Some("https://ocw.mit.edu/6006"),
      title = Some("Introduction to Algorithms"),
      description = Some("A course about algorithms"),
      creators = Seq("Erik Demaine", "", "Srini Devadas"),
      publisherName = None,
      language = Some("en"),
      licenseName = Some("CC BY-NC-SA"),
      licenseUrl = None,
      pdfPaths = Seq("b.pdf", "a.pdf"))
    assert(got == "704f23cb1424bcd54961205463de83d64f4747d7f95c02a550b41925d796d6fb")
  }

  test("F13 quality score weights and cap") {
    assert(computeQualityScore(Some("T"), Some("d" * 80), Seq("c"), Some("P"),
      Some("en"), Some("CC"), Some("http://u"), 1) == 1.0)
    assert(computeQualityScore(Some("T"), None, Seq.empty, Some("Unknown"),
      None, None, None, 0) == 0.18)
    assert(computeQualityScore(None, Some("short"), Seq.empty, None, None, None, None, 0) == 0.0)
    assert(computeQualityScore(Some("T"), None, Seq.empty, None, Some("en"), None, None, 1) == 0.33)
  }

  test("Q4 keyword extraction and language detection") {
    assert(extractKeywords("what is the fastest sorting algorithm") ==
      Seq("fastest", "sorting", "algorithm"))
    assert(detectLanguage("cấu trúc dữ liệu") == "vi")
    assert(detectLanguage("the quick brown fox") == "en")
    assert(detectLanguage("xyzzy plugh") == "unknown")
    assert(detectLanguage("") == "unknown")
  }

  test("Q4 query expansion: book subjects fan out, everything else passes through") {
    // chatbot_api.py:174-185 semantics
    assert(expandQuery("a book of math") == "mathematics algebra calculus")
    assert(expandQuery("find the TEXTBOOK of database please") ==
      "database SQL data management")
    assert(expandQuery("sách về toán") == "toán học mathematics algebra calculus")
    // unknown subject falls back to the ORIGINAL question, not the subject
    assert(expandQuery("any book of physics") == "any book of physics")
    // no book keyword → untouched even when "of X" is present
    assert(expandQuery("the history of math") == "the history of math")
    // book keyword but no "of/về/cho X" → untouched
    assert(expandQuery("a math textbook") == "a math textbook")
    assert(expandQuery("") == "")
    assert(expandQuery(null) == null)
  }

  test("rolling fingerprint matches the documented fold") {
    // fold: acc = (acc*31 + code) mod 2147483647, seed 7
    assert(rollingFingerprint("") == 7L)
    assert(rollingFingerprint("a") == 7L * 31 + 'a'.toLong)
    assert(rollingFingerprint(null) == 7L)
  }
}
