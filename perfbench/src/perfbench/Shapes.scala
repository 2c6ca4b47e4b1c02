package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The sf0.1 testdata shapes recorded in `sf01_shapes.json` by
  * `perfbench/shapes.py`, and seeded draws from them. A run reads only its
  * own directory, so the generators copy these shapes instead of reading
  * the testdata. */
final class Shapes(root: JsonNode) {
  def table(t: String): JsonNode = root.get(t)
  def rows(t: String): Long = table(t).get("rows").asLong
  def hist(t: String, col: String): Shapes.Hist = Shapes.Hist(table(t).get(col))
  def quantiles(t: String, col: String): Shapes.Quantiles = Shapes.Quantiles(table(t).get(col))
}

object Shapes {
  def load(path: String): Shapes = new Shapes(new ObjectMapper().readTree(new File(path)))

  /** A discrete distribution from a value → count histogram. */
  final case class Hist(keys: Vector[String], counts: Vector[Long]) {
    private val cum = counts.scanLeft(0L)(_ + _).tail.toArray
    def total: Long = cum.last
    /** A key drawn with probability count ÷ total. */
    def draw(r: SplittableRandom): String = {
      val x = r.nextLong(total)
      var lo = 0; var hi = cum.length - 1
      while (lo < hi) { val m = (lo + hi) / 2; if (cum(m) > x) hi = m else lo = m + 1 }
      keys(lo)
    }
    def drawLong(r: SplittableRandom): Long = draw(r).toLong
  }

  object Hist {
    def apply(node: JsonNode): Hist = {
      val kv = node.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toVector
      Hist(kv.map(_._1), kv.map(_._2))
    }
  }

  /** A continuous distribution from its 101 percentile points. */
  final case class Quantiles(points: Vector[Double]) {
    /** Inverse-CDF draw, linear between neighbouring percentiles. */
    def draw(r: SplittableRandom): Double = {
      val u = r.nextDouble() * (points.size - 1)
      val k = u.toInt
      points(k) + (u - k) * (points(k + 1) - points(k))
    }
  }

  object Quantiles {
    def apply(node: JsonNode): Quantiles = Quantiles(node.elements().asScala.map(_.asDouble).toVector)
  }
}
