package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.chunk.{HierarchicalChunker, Summarizer, TocExtractor}
import graft.chunk.TocExtractor.OutlineEntry
import graft.functions.SemanticMatcher

/** F21-F24 specs: summarizer extraction order and noise filtering, the
  * TOC cascade (outline → contents-page parse w/ offset → regex → flat)
  * with confidence scores and monotonic validation, 3-tier hierarchical
  * emission with parent links and the 0.60 confidence gate, and the
  * embedding-based semantic matcher.
  */
class HierarchySpec extends AnyFunSuite {

  // ---------------------------------------------------------- F23 summarizer

  test("F23 summarizer keeps top sentences in original order") {
    val text =
      "Relational algebra underpins every modern query optimizer design. " +
        "Xy zz qq. " +
        "Query optimizers use relational algebra rewrites to reorder joins for efficiency. " +
        "The weather was nice that day and nothing else happened there. " +
        "Join reordering and algebra rewrites define optimizer efficiency outcomes."
    val out = Summarizer.summarize(text, Summarizer.Config(maxSentences = 2))
    assert(out.size == 2)
    // extract preserves document order
    val idxs = out.map(text.indexOf(_))
    assert(idxs == idxs.sorted)
    // the ngram-heavy optimizer sentences outrank the off-topic one
    assert(out.forall(_.toLowerCase.contains("optimizer")))
  }

  test("F23 noise filter drops low-alpha sentences; short texts pass through") {
    assert(Summarizer.alphaRatio("1 2 3 4 5 .... 77") < 0.45)
    assert(Summarizer.summarize("12 .. 34 .. 56 .. 9900 11 22 33") == Vector.empty)
    val two = Summarizer.summarize(
      "Only one meaningful sentence lives here. And a second one follows it.")
    assert(two.size == 2) // ≤ maxSentences returns as-is
    assert(Summarizer.summaryText("", maxChars = 100) == "")
  }

  // ---------------------------------------------------------- F22 TOC cascade

  private def pages(ps: (Int, String)*): Map[Int, String] = ps.toMap

  test("F22 provided outline wins at 0.95") {
    val r = TocExtractor.extract(
      pages(1 -> "text"), totalPages = 100,
      outline = Seq(
        OutlineEntry(0, "Chapter 1 Intro", Some(1)),
        OutlineEntry(1, "1.1 Basics", Some(2)),
        OutlineEntry(0, "Chapter 2 Joins", Some(40))))
    assert(r.method == "pdf_outline" && r.confidence == 0.95)
    assert(r.toc.size == 2)
    assert(r.toc(0).pageEnd == 39) // filled from next chapter start
    assert(r.toc(1).pageEnd == 100)
    assert(r.toc(0).sections.head.sectionNumber == "1.1")
    assert(r.structureValid)
  }

  test("F22 contents-page parse at 0.85 with page-offset estimation") {
    val toc =
      """Table of Contents
        |Chapter 1 Storage Engines ........ 1
        |1.1 Heap Files ........ 2
        |Chapter 2 Query Processing ........ 10
        |""".stripMargin
    val p = pages(
      1 -> toc,
      // physical page 4 carries chapter 1's title → offset = 4-1 = 3
      4 -> "Chapter 1 Storage Engines\nActual storage engines chapter body",
      13 -> "Chapter 2 Query Processing\nquery processing body")
    val r = TocExtractor.extract(p, totalPages = 60)
    assert(r.method == "toc_page" && r.confidence == 0.85)
    assert(r.toc.map(_.pageStart) == Vector(4, 13)) // offset applied
    assert(r.toc(0).sections.size == 1)
  }

  test("F22 regex header fallback at 0.70; flat parts at 0.50") {
    val r = TocExtractor.extract(
      pages(2 -> "Chapter 1 Intro\nbody", 30 -> "Chapter 2 More\nbody"),
      totalPages = 60)
    assert(r.method == "regex" && r.confidence == 0.70)
    assert(r.toc.map(_.pageStart) == Vector(2, 30))

    val flat = TocExtractor.extract(pages(1 -> "nothing special"), totalPages = 120)
    assert(flat.method == "flat" && flat.confidence == 0.50)
    assert(flat.toc.size == 3) // 120 pages / 50-page parts
    assert(flat.toc.map(_.pageStart) == Vector(1, 51, 101))
    assert(flat.toc.last.pageEnd == 120)
  }

  test("F22 non-monotonic chapter starts fail validation") {
    assert(!TocExtractor.validate(Vector(
      TocExtractor.TocChapter("ch01", 1, "A", 50, 60, Vector.empty),
      TocExtractor.TocChapter("ch02", 2, "B", 10, 20, Vector.empty)), 100))
    assert(TocExtractor.romanToInt("XIV") == 14)
    assert(TocExtractor.isChapterTitle("Chương 3 Mạng"))
    assert(TocExtractor.isSectionTitle("2.3 Subnetting"))
  }

  // ------------------------------------------- F22 on REAL PDF bytes (r16)

  import graft.multimodal.PdfCodec
  import graft.multimodal.PdfCodec.OutlineNode

  test("F22 real PDF bytes: the parsed outline tree wins at 0.95") {
    val pdf = PdfCodec.encode(
      (1 to 80).map(i => s"body of page $i"),
      Seq(
        OutlineNode("Chapter 1 Intro", 1, Seq(OutlineNode("1.1 Basics", 2))),
        OutlineNode("Chapter 2 Joins", 40)))
    val r = TocExtractor.extractFromPdf(pdf)
    assert(r.method == "pdf_outline" && r.confidence == 0.95)
    assert(r.totalPages == 80)
    assert(r.toc.map(_.pageStart) == Vector(1, 40))
    assert(r.toc(0).pageEnd == 39 && r.toc(1).pageEnd == 80)
    assert(r.toc(0).sections.map(_.sectionNumber) == Vector("1.1"))
    assert(r.structureValid)
    // the pre-decoded entry (r20: mm_pdf_outline decodes once and runs
    // the cascade over the SAME decode result) is byte-path-identical
    val viaDoc = TocExtractor.extractFromDoc(PdfCodec.decode(pdf).get)
    assert(viaDoc == r)
  }

  test("F22 real PDF bytes without an outline: contents-page parse at 0.85") {
    val toc =
      """Table of Contents
        |Chapter 1 Storage Engines ........ 1
        |1.1 Heap Files ........ 2
        |Chapter 2 Query Processing ........ 10
        |""".stripMargin
    val texts = (1 to 60).map {
      case 1 => toc
      case 4 => "Chapter 1 Storage Engines\nActual storage engines chapter body"
      case 13 => "Chapter 2 Query Processing\nquery processing body"
      case i => s"plain body $i"
    }
    val r = TocExtractor.extractFromPdf(PdfCodec.encode(texts))
    assert(r.method == "toc_page" && r.confidence == 0.85)
    assert(r.toc.map(_.pageStart) == Vector(4, 13)) // offset estimated from real pages
    assert(r.toc(0).sections.size == 1)
  }

  test("F22 real PDF bytes: regex rung, then flat, then undecodable → 0 pages") {
    val regexed = TocExtractor.extractFromPdf(PdfCodec.encode(
      (1 to 60).map {
        case 2 => "Chapter 1 Intro\nbody"
        case 30 => "Chapter 2 More\nbody"
        case i => s"noise $i"
      }))
    assert(regexed.method == "regex" && regexed.confidence == 0.70)
    assert(regexed.toc.map(_.pageStart) == Vector(2, 30))

    val flat = TocExtractor.extractFromPdf(
      PdfCodec.encode((1 to 120).map(i => s"nothing special $i")))
    assert(flat.method == "flat" && flat.confidence == 0.50)
    assert(flat.toc.map(_.pageStart) == Vector(1, 51, 101))

    val broken = TocExtractor.extractFromPdf("%PDF-1.4 but truncated".getBytes)
    assert(broken.method == "flat" && broken.totalPages == 0 && !broken.structureValid)
  }

  // ---------------------------------------------------------- F21 hierarchy

  private val chapterBody =
    ("Sentence about storage engines and page layouts in databases. " * 8).trim

  test("F21 emits 3 tiers with parent links when structure is confident") {
    val pageTexts = Seq(
      1 -> s"Chapter 1 Storage\n$chapterBody",
      2 -> chapterBody,
      3 -> s"Chapter 2 Queries\n$chapterBody")
    val outline = Seq(
      OutlineEntry(0, "Chapter 1 Storage", Some(1)),
      OutlineEntry(0, "Chapter 2 Queries", Some(3)))
    val (chunks, structure, status) = HierarchicalChunker.chunkDocument(
      "res1", "asset1", "en", pageTexts, outline,
      HierarchicalChunker.Config(sectionChunk = graft.chunk.Chunker.Config(300, 40, 40)))
    assert(status == "ok")
    val byTier = chunks.groupBy(_.chunk_tier)
    assert(byTier(1).size == 1 && byTier(1).head.is_summary && byTier(1).head.has_children)
    assert(byTier(2).size == 2)
    assert(byTier(3).nonEmpty)
    // every tier-3 chunk's parent is its chapter's tier-2 chunk id
    val tier2ByChapter = byTier(2).map(c => c.chapter_id.get -> c.chunk_id).toMap
    assert(byTier(3).forall(c => c.parent_chunk_id.contains(tier2ByChapter(c.chapter_id.get))))
    // tier-3 global order is dense 1..n
    assert(byTier(3).map(_.chunk_order).sorted == (1 to byTier(3).size).toVector)
    val st = structure.get
    assert(st.has_toc && st.toc_method == "pdf_outline" && st.total_chapters == 2)
  }

  test("F21 confidence gate: weak structure falls back to flat, no summary tiers") {
    val pageTexts = (1 to 4).map(p => p -> chapterBody)
    val (chunks, structure, status) = HierarchicalChunker.chunkDocument(
      "res1", "asset2", "en", pageTexts,
      cfg = HierarchicalChunker.Config(sectionChunk = graft.chunk.Chunker.Config(300, 40, 40)))
    assert(status == "ok")
    assert(chunks.forall(_.chunk_tier == 3)) // flat ⇒ tier 3 only
    assert(chunks.forall(_.parent_chunk_id.isEmpty))
    assert(!structure.get.has_toc && structure.get.toc_method == "flat")
  }

  test("F21 status taxonomy") {
    assert(HierarchicalChunker.chunkDocument("", "a", "en", Seq(1 -> "x"))._3 == "missing_keys")
    assert(HierarchicalChunker.chunkDocument("r", "a", "en", Seq.empty)._3 == "page_extract_failed")
  }

  test("F21 chunk ids are deterministic") {
    val pageTexts = Seq(1 -> chapterBody, 2 -> chapterBody)
    def ids = HierarchicalChunker.chunkDocument("r", "a", "en", pageTexts)._1.map(_.chunk_id)
    assert(ids == ids)
    assert(ids.distinct.size == ids.size)
  }

  // ---------------------------------------------------------- F24 semantic matcher

  test("F24 semantic matcher: normalized dot, threshold, top-3") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val m = new SemanticMatcher(Seq(
      1 -> v(1, 0, 0), 2 -> v(0.9, 0.1, 0), 3 -> v(0, 1, 0),
      4 -> v(0, 0, 1), 5 -> v(0.8, 0.2, 0)), threshold = 0.38)
    val out = m.matchVector(v(1, 0, 0))
    assert(out.size == 3) // 4 clear the threshold, top-3 kept
    assert(out.head == (1, 1.0))
    assert(out.map(_._1) == Seq(1, 2, 5))
    assert(out.forall(_._2 >= 0.38))
    // orthogonal vector matches nothing
    assert(m.matchVector(v(0, 0, 1)).map(_._1) == Seq(4))
    assert(m.matchVector(Array.empty[Float]).isEmpty)
  }

  test("F24 matcher rides an explicit broadcast, not the task closure") {
    // The distributed path (sim_semantic_match) must ship the matcher via
    // sc.broadcast — once per executor — and the broadcast copy must be
    // semantically identical to the driver-side instance after the
    // serialize/deserialize hop.
    val spark = SparkTestBase.spark
    import org.apache.spark.sql.functions.{col, explode, udf}
    import spark.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val m = new SemanticMatcher(Seq(
      1 -> v(1, 0, 0), 2 -> v(0.9, 0.1, 0), 3 -> v(0, 1, 0)), threshold = 0.38)
    val bc = spark.sparkContext.broadcast(m)
    val matchUdf = udf((x: Seq[Float]) => bc.value.matchVector(x.toArray))
    val queries = Seq((10L, Seq(1f, 0f, 0f)), (11L, Seq(0f, 1f, 0f)))
    val distributed = queries.toDF("id", "vec")
      .repartition(4)
      .select(col("id"), explode(matchUdf(col("vec"))).as("hit"))
      .select(col("id"), col("hit._1").as("sid"), col("hit._2").as("sim"))
      .as[(Long, Int, Double)].collect().toSet
    val direct = queries.flatMap { case (id, q) =>
      m.matchVector(q.toArray).map { case (sid, sim) => (id, sid, sim) }
    }.toSet
    assert(distributed == direct)
    bc.destroy()
  }
}
