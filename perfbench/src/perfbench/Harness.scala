package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one op reports back to the loop: the input rows it processed and
  * its output check, which the loop runs after the op's latency is taken
  * and which returns what is wrong, if anything. */
final case class OpResult(kind: String, rows: Long, check: () => Option[String])

final case class Check(name: String, ok: Boolean, detail: String)

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: File, var tracer: Tracer) {
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Check]
  /** Records an output check; `problem` says what is wrong, if anything. */
  def check(name: String, problem: Option[String]): Unit =
    checks += Check(name, problem.isEmpty, problem.getOrElse(""))
  def add(key: String, v: Double): Unit = layer(key) = layer.getOrElse(key, 0.0) + v
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** A workload: set-up that can run several times (the last set-up's
  * state is the one the ops use), then a closed loop of ops. */
trait Workload {
  /** Build inputs and tables under `dir`; returns a digest of the inputs. */
  def setup(ctx: Ctx, dir: File): String
  /** Set-ups per run; set-up time is their median. */
  def setups: Int
  /** Wall time spent warming up code paths before the timed loop (at least one op). */
  def warmupSeconds: Double
  /** The timed loop ends only after a multiple of this many ops. */
  def opsPerRound: Int = 1
  def op(ctx: Ctx, i: Int): OpResult
  /** Untimed work after an op: byte accounting, traced-only layer probes. */
  def afterOp(ctx: Ctx, i: Int, phase: String): Unit = ()
  /** End-of-run output checks and counters. */
  def finish(ctx: Ctx): Unit = ()
}

/** Disk accounting over table directories. A file counts as newly
  * written when its inode was not seen before, so hard-linked files are
  * excluded; distinct bytes count each inode once. */
final class DiskLedger {
  private val seen = mutable.HashSet.empty[Any]
  private val seenPaths = mutable.HashSet.empty[(Path, Any)]
  var filesWritten = 0L
  var filesLinked = 0L

  private def files(roots: Seq[File]): Seq[Path] = roots.filter(_.exists).flatMap { r =>
    val s = Files.walk(r.toPath)
    try { val it = s.iterator(); val b = mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p)) b += p }; b.toSeq }
    finally s.close()
  }

  /** Scan `roots`; returns the bytes of inodes first seen in this scan. */
  def scan(roots: Seq[File]): Long = {
    var fresh = 0L
    files(roots).foreach { p =>
      val ino = Files.getAttribute(p, "unix:ino")
      if (seenPaths.add((p, ino))) {
        if (seen.add(ino)) { fresh += Files.size(p); filesWritten += 1 }
        else filesLinked += 1
      }
    }
    fresh
  }

  def distinctBytes(roots: Seq[File]): Long = {
    val inodes = mutable.HashMap.empty[Any, Long]
    files(roots).foreach(p => inodes(Files.getAttribute(p, "unix:ino")) = Files.size(p))
    inodes.values.sum
  }
}

object DiskLedger {
  /** Data bytes and file count of a table's live snapshot. */
  def live(table: File): (Long, Int) =
    graft.operators.TableMerge.liveVersion(table.getPath).map(snapshot(table, _)).getOrElse((0L, 0))

  /** Data bytes and file count of one retained snapshot. */
  def snapshot(table: File, v: String): (Long, Int) = {
        val s = Files.walk(Paths.get(table.getPath, v))
        try {
          val ps = s.iterator()
          var b = 0L; var n = 0
          while (ps.hasNext) { val p = ps.next()
            if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")) {
              b += Files.size(p); n += 1 } }
          (b, n)
        } finally s.close()
  }

  def versionsOnDisk(table: File): Int = graft.operators.TableMerge.versions(table.getPath).size

  /** Copy a snapshot's parquet files (partition directories kept) into a
    * plain directory that vanilla `spark.read.parquet` reads. */
  def plainCopy(table: File, version: String, dest: File): Unit = {
    val src = Paths.get(table.getPath, version)
    val s = Files.walk(src)
    try s.iterator().forEachRemaining { p =>
      val name = p.getFileName.toString
      if (Files.isRegularFile(p) && name.endsWith(".parquet") && !name.startsWith(".")) {
        val to = dest.toPath.resolve(src.relativize(p).toString)
        Files.createDirectories(to.getParent)
        Files.copy(p, to)
      }
    } finally s.close()
  }
}
