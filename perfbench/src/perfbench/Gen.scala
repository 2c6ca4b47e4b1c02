package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded generators of the documents, bronze records and corpora. Every
  * input is made from the run's seed; the shapes follow the sf0.1
  * documents as `sf01_shapes.json` records them: a 30-word vocabulary (the
  * `spark`/`join`/`filter` search terms among it; the testdata's 31st word
  * is its own `dup` marker), 10-100 tokens per document, 20 sources and
  * five languages with English at ~41%; embeddings are 64-d unit vectors
  * in 10 weak clusters. The read tables are made in `Reads.generate`. */
object Gen {

  val Vocab: Vector[String] = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")
  /** Words no corpus renames: the hybrid-search terms and stopwords. */
  val Protected: Set[String] = Set("spark", "join", "filter", "the", "a")
  val Langs: Vector[String] = Vector("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt * 0xC2B2AE3D27D4EB4FL)

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Digest of an input, recorded so two runs can prove they saw the same one. */
  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => { md.update(p.getBytes("UTF-8")); md.update(0.toByte) })
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  def text(r: SplittableRandom, vocab: Vector[String]): String =
    Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.size))).mkString(" ")

  // ------------------------------------------------------------ corpus

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  /** One curation corpus: documents, embeddings for the first 40% of ids,
    * and duplicates injected at known rates. `exactPairs`/`nearPairs` are
    * (original id, injected id). */
  final case class Corpus(docs: Vector[Doc], embs: Vector[Emb],
                          exactPairs: Vector[(Long, Long)], nearPairs: Vector[(Long, Long)]) {
    def digest: String = Gen.digest(
      docs.iterator.map(d => s"${d.doc_id}|${d.source}|${d.lang}|${d.text}") ++
        embs.iterator.map(e => s"${e.vec_id}|${e.label}|${e.embedding.mkString(",")}"))
  }

  def corpus(seed: Long, index: Int, nDocs: Int, dupRate: Double = 0.02): Corpus = {
    val r = rng(seed, 1000L + index)
    // seeded token renaming: each unprotected word gets a corpus suffix
    // with probability 1/2, so corpora share structure but not tokens
    val vocab = Vocab.map(w => if (Protected(w) || r.nextInt(2) == 0) w else s"$w$index")
    val seen = scala.collection.mutable.HashSet.empty[String]
    def freshText(): String = { var t = text(r, vocab); while (!seen.add(t)) t = text(r, vocab); t }
    val base = Vector.tabulate(nDocs) { i =>
      val t = freshText()
      Doc(i, t, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}", t.length)
    }
    val nDup = math.max(1, (nDocs * dupRate).toInt)
    val picks = r.ints(0, nDocs).distinct().limit(2L * nDup).toArray.toVector
    val exact = picks.take(nDup).zipWithIndex.map { case (o, k) =>
      val src = base(o); src.copy(doc_id = nDocs + k) }
    val near = picks.drop(nDup).zipWithIndex.map { case (o, k) =>
      val src = base(o)
      val toks = src.text.split(' ')
      // drop the last token of a long document: a one-word edit
      val t = if (toks.length > 12) toks.init.mkString(" ") else src.text + " " + toks.head
      require(seen.add(t), "near duplicate collides with a document")
      Doc(nDocs + nDup + k, t, src.lang, src.source, t.length)
    }
    // embedding rotation: a per-corpus cyclic shift keeps norms, moves directions
    val rot = r.nextInt(64)
    val centers = Vector.fill(10)(Array.fill(64)((r.nextGaussian() * 0.01).toFloat))
    val embs = Vector.tabulate((nDocs * 2) / 5) { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(64)(k => centers(label)(k) + (r.nextGaussian() * 0.125).toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      val u = v.map(_ / norm)
      Emb(i, Array.tabulate(64)(k => u((k + rot) % 64)), label)
    }
    Corpus(base ++ exact ++ near, embs,
      picks.take(nDup).zip(exact.map(_.doc_id)).map { case (o, c) => (o.toLong, c) },
      picks.drop(nDup).zip(near.map(_.doc_id)).map { case (o, c) => (o.toLong, c) })
  }

  // ------------------------------------------------------------ bronze

  /** A bronze record in the silver pipeline's input schema. */
  final case class Bronze(resource_id: String, source: String, url: String, title: String,
                          description: String, language: String, text: String,
                          scraped_at: String) {
    def json: String = Seq(resource_id, source, url, title, description, language, text,
      scraped_at).map(v => "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("{", ",", "}")
  }

  private val T0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
  private val Fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def ts(minutes: Long): String = T0.plusMinutes(minutes).format(Fmt)

  def bronze(r: SplittableRandom, id: String, minutes: Long, rev: Int): Bronze = {
    val t = text(r, Vocab)
    val words = t.split(' ')
    Bronze(id, s"src${r.nextInt(20)}", s"https://oer.example/$id",
      (words.take(4) :+ s"r$rev").mkString(" "), t.take(120) + s" rev $rev",
      Langs(r.nextInt(Langs.size)), t, ts(minutes))
  }

  def initialLoad(seed: Long, n: Int): Vector[Bronze] = {
    val r = rng(seed, 1L)
    Vector.tabulate(n)(i => bronze(r, s"d$i", 0L, 0))
  }

  /** One incremental batch against the current latest-wins state:
    * edited resources, new resources, unchanged re-sends (which CDC must
    * drop) and uids sent three times at rising timestamps (latest wins).
    * Returns the batch and the number of uids CDC must pass. */
  def batch(seed: Long, op: Int, state: Vector[Bronze], size: Int): (Vector[Bronze], Int) = {
    val r = rng(seed, 100000L + op)
    val q = size / 5
    val now = 60L * (op + 1)
    val picked = r.ints(0, state.size).distinct().limit(3L * q).toArray.toVector.map(state)
    val edited = picked.take(q).map(b =>
      bronze(r, b.resource_id, now, op + 1).copy(source = b.source))
    val unchanged = picked.slice(q, 2 * q)
    val triple = picked.drop(2 * q).take(q / 3).flatMap { b =>
      (0 until 3).map(k => bronze(r, b.resource_id, now + k, op + 1).copy(source = b.source))
    }
    val fresh = Vector.tabulate(q)(k => bronze(r, s"n$op-$k", now, op + 1))
    val out = edited ++ unchanged ++ triple ++ fresh
    (out, edited.size + q / 3 + fresh.size)
  }
}
