package perfbench

import scala.collection.mutable

/** Self test of the benchmark's JVM side, run by `perfbench/test_perfbench.py`
  * as `perfbench.SelfTest <sf01_shapes.json>`: the generators are
  * deterministic per seed, the shape draws follow the recorded shapes, and
  * every output check in `Checks` accepts the true expected value and
  * rejects a perturbed one. Prints one PASS or FAIL line per case; exits 1
  * on any failure. */
object SelfTest {
  private var failed = 0

  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failed += 1
  }

  /** The check accepts the truth and rejects the perturbation. */
  private def discriminates(name: String, truth: Option[String], perturbed: Option[String]): Unit = {
    expect(s"$name accepts the truth", truth.isEmpty)
    expect(s"$name rejects a perturbed value", perturbed.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val shapes = Shapes.load(args(0))

    // generators: same seed, same inputs; another seed, other inputs
    val load = Gen.initialLoad(7, 300)
    expect("initial load is deterministic", load == Gen.initialLoad(7, 300))
    expect("initial load depends on the seed", load != Gen.initialLoad(8, 300))
    val (b1, n1) = Gen.batch(7, 3, load, 200)
    expect("batch is deterministic", (b1, n1) == Gen.batch(7, 3, load, 200))
    expect("batch depends on the seed", b1 != Gen.batch(8, 3, load, 200)._1)
    val c = Gen.corpus(7, 0, 300)
    expect("corpus is deterministic", c.digest == Gen.corpus(7, 0, 300).digest)
    expect("corpus depends on the seed", c.digest != Gen.corpus(8, 0, 300).digest)
    expect("corpora of one run differ", c.digest != Gen.corpus(7, 1, 300).digest)
    val t = Reads.generate(shapes, 2.0 / 15, 7)
    expect("read tables are deterministic", t == Reads.generate(shapes, 2.0 / 15, 7))
    expect("read tables depend on the seed", t != Reads.generate(shapes, 2.0 / 15, 8))

    // the read tables follow the recorded sf0.1 shapes
    expect("events have the sf0.1 row count", t.events.size == shapes.rows("events"))
    val lpo = shapes.hist("lineitem", "lines_per_order")
    val lpoMean = lpo.keys.zip(lpo.counts).map { case (k, n) => k.toLong * n }.sum.toDouble / lpo.total
    expect("lines per order keep the sf0.1 mean",
      math.abs(t.lineitem.size.toDouble / t.orders.size - lpoMean) < 0.1)
    val opc = shapes.hist("orders", "orders_per_customer")
    val opcMean = opc.keys.zip(opc.counts).map { case (k, n) => k.toLong * n }.sum.toDouble / opc.total
    expect("orders per customer keep the sf0.1 mean",
      math.abs(t.orders.size.toDouble / t.customers.size - opcMean) < 0.3)
    val q = Shapes.Quantiles(Vector.tabulate(101)(_.toDouble))
    val r = Gen.rng(1, 1)
    val draws = Vector.fill(20000)(q.draw(r))
    expect("quantile draws stay within p0..p100", draws.forall(x => x >= 0 && x <= 100))
    expect("quantile draws have the recorded median",
      math.abs(draws.sorted.apply(10000) - 50) < 2)
    val h = Shapes.Hist(Vector("a", "b"), Vector(1L, 3L))
    val share = Vector.fill(20000)(h.draw(r)).count(_ == "b") / 20000.0
    expect("histogram draws keep the recorded frequencies", math.abs(share - 0.75) < 0.02)

    // medallion: per op, the change count latest-wins finds and the bronze rows
    val state = mutable.LinkedHashMap.empty[String, Gen.Bronze]
    load.foreach(b => state(b.resource_id) = b)
    val winners = Checks.latestWins(state, b1)
    expect("changed count matches latest-wins", winners.size == n1)
    discriminates("medallion op check (changed)",
      Checks.medallionOp(winners.size, b1.size, n1, b1.size),
      Checks.medallionOp(winners.size + 1, b1.size, n1, b1.size))
    discriminates("medallion op check (bronze rows)",
      Checks.medallionOp(winners.size, b1.size, n1, b1.size),
      Checks.medallionOp(winners.size, b1.size - 1, n1, b1.size))
    // medallion: at the end, silver, chunks and gold against the state
    val live = state.values
    val silver = live.iterator.map(Checks.silverKey).toSeq
    discriminates("silver latest-wins check (fingerprint)",
      Checks.silverMatches(silver.reverse, live),
      Checks.silverMatches(silver.updated(0, (silver.head._1, "0" * 64)), live))
    expect("silver latest-wins check rejects a missing row",
      Checks.silverMatches(silver.tail, live).nonEmpty)
    val uids = silver.map(_._1)
    val chunkUids = uids.flatMap(u => Seq(u, u))
    discriminates("every-resource-chunked check",
      Checks.everyResourceChunked(uids, chunkUids),
      Checks.everyResourceChunked(uids, chunkUids.filterNot(_ == uids.head)))
    val dims = Map("dim_resources" -> live.size.toLong,
      "dim_sources" -> live.map(_.source.toLowerCase).toSet.size.toLong,
      "dim_languages" -> live.map(_.language).toSet.size.toLong)
    dims.keys.toSeq.sorted.foreach { n =>
      discriminates(s"gold dimension check ($n)", Checks.goldDims(dims, live),
        Checks.goldDims(dims.updated(n, dims(n) + 1), live))
    }

    // reads: the digest ignores row order and sees any changed row
    val rows = Seq("a|1", "b|2", "c|3")
    discriminates("read answer check",
      Checks.readAnswer("t", Checks.rowsDigest(rows.reverse), Checks.rowsDigest(rows)),
      Checks.readAnswer("t", Checks.rowsDigest(rows.updated(1, "b|3")), Checks.rowsDigest(rows)))

    // curation: dedup totals, injected pairs, near-pair recall and the hybrid top hit
    val scores = Checks.hybridScores(c)
    val best = scores.maxBy(_._2)._1
    val worst = scores.minBy(_._2)._1
    val totals = Checks.exactDedupTotals(c)
    expect("exact dedup totals count the injected copies",
      totals._1 - totals._2 == c.docs.count(_.doc_id % 10 == 0) + c.exactPairs.size)
    val pairs = (c.exactPairs ++ c.nearPairs).toSet
    val truth = Checks.curationOp(c, scores, totals, pairs, best)
    def perturbed(name: String, got: Option[String]): Unit =
      discriminates(s"curation check ($name)", truth, got)
    perturbed("dedup_exact before", Checks.curationOp(c, scores, (totals._1 + 1, totals._2), pairs, best))
    perturbed("dedup_exact after", Checks.curationOp(c, scores, (totals._1, totals._2 - 1), pairs, best))
    perturbed("exact pair missed", Checks.curationOp(c, scores, totals, pairs - c.exactPairs.head, best))
    val floor = math.ceil(Checks.NearRecallFloor * c.nearPairs.size).toInt
    val atFloor = pairs -- c.nearPairs.drop(floor)
    expect("near recall check accepts recall at the floor",
      Checks.curationOp(c, scores, totals, atFloor, best).isEmpty)
    perturbed("near recall below the floor",
      Checks.curationOp(c, scores, totals, atFloor - c.nearPairs.head, best))
    perturbed("hybrid top hit", Checks.curationOp(c, scores, totals, pairs, worst))

    if (failed > 0) sys.exit(1)
  }
}
