package perfbench

import scala.collection.mutable

import Gen.{Bronze, Corpus}

/** Ground truths computed in plain Scala, independent of the engine, and
  * the comparisons the workloads' output checks use. Each check returns
  * what is wrong, if anything; `SelfTest` feeds each one its true expected
  * value and a perturbed one. */
object Checks {

  /** Silver's (resource_uid, record_fingerprint) of a bronze record, by
    * the silver contract: uid = sha256(source || resource_id), the
    * fingerprint hashes title, description, url and language. */
  def silverKey(b: Bronze): (String, String) = (
    Gen.sha256Hex(s"${b.source.toLowerCase}||${b.resource_id}"),
    Gen.sha256Hex(Seq(b.title.trim, b.description, b.url, b.language.trim.toLowerCase.take(2))
      .mkString("||")))

  /** Latest-wins over one batch, applied to `state` in place: per
    * resource the newest record wins; it replaces the stored one when the
    * resource is new, newer or its content changed. Returns the winners
    * that changed the state. */
  def latestWins(state: mutable.Map[String, Bronze], batch: Seq[Bronze]): Seq[Bronze] =
    batch.groupBy(_.resource_id).values.toSeq.flatMap { recs =>
      val latest = recs.maxBy(_.scraped_at)
      state.get(latest.resource_id) match {
        case Some(old) if old.scraped_at >= latest.scraped_at &&
          silverKey(old)._2 == silverKey(latest)._2 => None
        case _ => state(latest.resource_id) = latest; Some(latest)
      }
    }

  def sameMultiset[T](a: Seq[T], b: Seq[T]): Boolean =
    a.size == b.size && a.groupBy(identity).view.mapValues(_.size).toMap ==
      b.groupBy(identity).view.mapValues(_.size).toMap

  // ------------------------------------------------------------ medallion

  /** One medallion op: silver read every bronze record, and CDC passed
    * exactly the uids that latest-wins finds new, newer or changed. */
  def medallionOp(changed: Long, bronze: Long, expectChanged: Int, batchSize: Int): Option[String] =
    if (changed == expectChanged && bronze == batchSize) None
    else Some(s"changed $changed (expected $expectChanged), bronze $bronze/$batchSize")

  /** The silver table's (resource_uid, record_fingerprint) multiset equals
    * the plain-Scala latest-wins state. */
  def silverMatches(silver: Seq[(String, String)], state: Iterable[Bronze]): Option[String] = {
    val want = state.iterator.map(silverKey).toSeq
    if (sameMultiset(silver, want)) None
    else Some(s"silver has ${silver.size} rows, plain latest-wins has ${want.size}")
  }

  /** Every live resource has at least one chunk. */
  def everyResourceChunked(resources: Seq[String], chunkUids: Seq[String]): Option[String] = {
    val missing = resources.toSet -- chunkUids
    if (missing.isEmpty) None else Some(s"${missing.size} live resources without chunks")
  }

  /** Gold dimension row counts match the plain-Scala silver state: one row
    * per resource, per source and per language. */
  def goldDims(got: Map[String, Long], state: Iterable[Bronze]): Option[String] = {
    val want = Map(
      "dim_resources" -> state.size.toLong,
      "dim_sources" -> state.iterator.map(_.source.toLowerCase).toSet.size.toLong,
      "dim_languages" -> state.iterator.map(_.language).toSet.size.toLong)
    want.toSeq.sorted.collect { case (n, w) if !got.get(n).contains(w) =>
      s"$n has ${got.getOrElse(n, 0L)} rows, silver truth has $w" }.reduceOption(_ + "; " + _)
  }

  // ------------------------------------------------------------ reads

  /** Order-independent digest of result rows. */
  def rowsDigest(rows: Seq[String]): String = Gen.digest(rows.sorted.iterator)

  /** A read query's answer equals the vanilla-parquet answer, by digest. */
  def readAnswer(template: String, got: String, want: String): Option[String] =
    if (got == want) None
    else Some(s"$template: engine digest $got differs from the vanilla-parquet answer $want")

  // ------------------------------------------------------------ curation

  /** Simhash recall is below 1 by design; half the near pairs must be found. */
  val NearRecallFloor = 0.5

  /** One corpus through the funnel: `dedup_exact`'s summed totals, every
    * injected exact pair and at least `NearRecallFloor` of the near pairs
    * among `dedup_simhash_pairs`, and `search_hybrid`'s top hit. */
  def curationOp(c: Corpus, scores: Map[Long, Double], exactTotals: (Long, Long),
                 pairs: Set[(Long, Long)], top: Long): Option[String] = {
    val want = exactDedupTotals(c)
    val exactFound = recovered(pairs, c.exactPairs)
    val nearFound = recovered(pairs, c.nearPairs)
    Seq(
      (exactTotals == want) ->
        s"dedup_exact ${exactTotals._1}→${exactTotals._2}, expected ${want._1}→${want._2}",
      (exactFound == c.exactPairs.size) -> s"exact pairs $exactFound/${c.exactPairs.size}",
      (nearFound >= NearRecallFloor * c.nearPairs.size) ->
        s"near pairs $nearFound/${c.nearPairs.size}",
      topHitMatches(scores, top) -> s"search_hybrid top hit $top is not the brute-force best"
    ).collect { case (false, why) => why }.reduceOption(_ + "; " + _)
  }

  /** dedup_exact over the corpus: per source, rows before (the corpus
    * plus the query's own doc_id % 10 = 0 copies) and distinct texts after.
    * Summed: before = n + |id % 10 = 0|, after = n − injected exact copies. */
  def exactDedupTotals(c: Corpus): (Long, Long) = {
    val n = c.docs.size.toLong
    (n + c.docs.count(_.doc_id % 10 == 0), n - c.exactPairs.size)
  }

  /** Injected pairs recovered by a pair-finding query. */
  def recovered(found: Set[(Long, Long)], injected: Seq[(Long, Long)]): Int =
    injected.count { case (a, b) => found((math.min(a, b), math.max(a, b))) }

  /** Brute-force hybrid score of `search_hybrid`: BM25 (k1 = 1.2,
    * b = 0.75) over the three query terms, fused half and half with the
    * embedding-sum branch, each max-normalised, over documents that have
    * an embedding. Returns doc_id → fused score. */
  def hybridScores(c: Corpus): Map[Long, Double] = {
    val terms = Seq("spark", "join", "filter")
    val emb = c.embs.iterator.map(e => e.vec_id -> e.embedding).toMap
    val rows = c.docs.filter(d => emb.contains(d.doc_id)).map { d =>
      val toks = d.text.split(' ')
      val e = emb(d.doc_id)
      var sum = 0.0; var sq = 0.0
      e.foreach { x => sum += x.toDouble; sq += x.toDouble * x.toDouble }
      (d.doc_id, toks.length.toDouble, terms.map(t => toks.count(_ == t).toDouble),
        (sum * 0.1) / (math.sqrt(sq) * 0.8))
    }
    val n = rows.size.toDouble
    val avgdl = rows.map(_._2).sum / n
    val df = terms.indices.map(k => rows.count(_._3(k) > 0).toDouble)
    val lex = rows.map { case (_, dl, tf, _) =>
      terms.indices.map { k =>
        math.log(1.0 + (n - df(k) + 0.5) / (df(k) + 0.5)) *
          (tf(k) * 2.2) / (tf(k) + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum
    }
    val lexMax = lex.max
    val vecMax = rows.map(_._4).max
    rows.zip(lex).map { case ((id, _, _, vec), l) =>
      id -> (0.5 * (l / lexMax) + 0.5 * (vec / vecMax))
    }.toMap
  }

  /** The engine's top hit must score within rounding of the brute-force best. */
  def topHitMatches(scores: Map[Long, Double], engineTop: Long): Boolean =
    scores.get(engineTop).exists(s => s >= scores.values.max - 1e-6)
}
