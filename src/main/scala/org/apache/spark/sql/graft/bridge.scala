package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Narrow `private[sql]` bridge for [[graft.plans.SqlMerge]] and
  * [[graft.operators.TableMerge]]: a Column view of a resolved Catalyst
  * expression, a DataFrame view of a logical plan, partition-dir
  * naming, plan-size observation, a listener-bus drain for
  * [[graft.Measure]], and the one snapshot read path (the
  * manifest-planned, stats-pruning [[manifestRead]]). Nothing else from
  * the internal API is re-exported.
  */
object bridge extends org.apache.spark.internal.Logging {
  def columnOf(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Wait until every queued listener event has been delivered. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def dataFrameOf(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** One `col=value` path segment, named EXACTLY as Spark's writer
    * names it: null AND empty string render as
    * `__HIVE_DEFAULT_PARTITION__`, everything else path-escapes. The
    * caller must pass the writer's value rendering — i.e. the result
    * of `Cast(col, StringType)` under the session timezone, NOT
    * JVM `toString` (java.sql.Timestamp.toString appends `.0`, which
    * the writer never emits). */
  def partitionPathSegment(colName: String, castValue: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(colName, Option(castValue).getOrElse(""))

  /** `memo`'s value for `key`, built on a miss. Bounded at `max`
    * entries and rebuilt on demand: a miss that finds the memo full
    * clears it, a hit never does, so a repeat lookup never evicts its
    * own entry. Both per-snapshot memos (TableMerge's metadata, the
    * manifest scan's partition grouping) go through it. */
  def boundedMemo[V](memo: java.util.concurrent.ConcurrentHashMap[String, V], max: Int,
                     key: String)(build: => V): V =
    Option(memo.get(key)).getOrElse {
      if (memo.size >= max) memo.clear()
      memo.computeIfAbsent(key, _ => build)
    }

  /** Stand-in leaf for a materialized RDD in a size estimate: its
    * statistics are the RDD's stored bytes. Never executed. */
  private final case class StoredRddLeaf(
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute], bytes: BigInt)
      extends org.apache.spark.sql.catalyst.plans.logical.LeafNode {
    override def computeStats(): org.apache.spark.sql.catalyst.plans.logical.Statistics =
      org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes = bytes)
  }

  /** Plan-stat size of `df`, where every RDD leaf whose blocks the block
    * manager holds (an eager local checkpoint, a persisted RDD) counts
    * its stored bytes: the size observed at run time, not the estimate
    * the checkpoint copied from its origin plan (for a join, the
    * product of its inputs' sizes). None when the size is unknown (the
    * session's `spark.sql.defaultSizeInBytes` or more, as for an RDD
    * that was never materialized). */
  def observedSizeInBytes(df: DataFrame): Option[BigInt] = {
    import org.apache.spark.sql.execution.LogicalRDD
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = df.queryExecution.optimizedPlan
    val rddIds = plan.collect { case r: LogicalRDD => r.rdd.id }.toSet
    val stored =
      if (rddIds.isEmpty) Map.empty[Int, Long]
      else cs.sparkContext.getRDDStorageInfo(r => rddIds(r.id))
        .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    val sized =
      if (stored.isEmpty) plan
      else plan.transformUp {
        case r: LogicalRDD if stored.contains(r.rdd.id) => StoredRddLeaf(r.output, stored(r.rdd.id))
      }
    Some(sized.stats.sizeInBytes).filter(_ < cs.sessionState.conf.defaultSizeInBytes)
  }

  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.execution.datasources._
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.unsafe.types.UTF8String
  import graft.operators.TableMerge.{ColRange, NumRange, StrRange}

  /** One listFiles invocation's pruning state: filter-shape extraction
    * is conservative — only TOP-LEVEL conjuncts of shape
    * `col (=|<|<=|>|>=|<=>) literal` (either orientation), BETWEEN,
    * `col IN (literals)` / InSet, and `col IS [NOT] NULL` narrow what a
    * file may contain; anything else (casts that survive Catalyst's
    * unwrap rule, OR trees, UDFs) leaves the file in the scan.
    * Correctness never depends on the pruning.
    *
    * Bounds/shapes depend only on (filters, column, kind): one walk per
    * stats column per invocation, not per file — F files × C columns
    * would re-traverse the filter tree F·C times on big tables.
    */
  private final class PruneContext(
      dataFilters: Seq[Expression],
      stats: Map[String, Map[String, ColRange]],
      nulls: Map[String, Map[String, (Long, Long)]],
      strFileBounds: Map[(String, String), (UTF8String, UTF8String)]) {

    /** A literal only narrows bounds when its TYPE matches the recorded
      * stat kind — load-bearing, not cosmetic: stats are in each
      * column's own internal unit (kind `i` long value, `d` epoch days,
      * `t` epoch micros), so e.g. a TimestampType literal (micros) must
      * never compare against an integral `i` row, and an integral
      * literal must never compare against date days.
      * Mismatched or unsupported comparisons keep the file. */
    private def litFor(kind: Char)(l: Literal): Option[Long] = {
      import org.apache.spark.sql.types._
      val typeMatches = kind match {
        case 'i' => l.dataType == ByteType || l.dataType == ShortType ||
          l.dataType == IntegerType || l.dataType == LongType
        case 'd' => l.dataType == DateType
        case 't' => l.dataType == TimestampType || l.dataType == TimestampNTZType
        case _ => false
      }
      if (!typeMatches) None
      else l.value match {
        case n: java.lang.Number => Some(n.longValue)
        case _ => None
      }
    }

    /** String literals narrow only under the DEFAULT (UTF8_BINARY)
      * collation — the recorded ranges are UTF-8-binary min/max, and a
      * non-binary collation orders differently. */
    private def litStr(l: Literal): Option[UTF8String] =
      if (l.dataType == org.apache.spark.sql.types.StringType) l.value match {
        case u: UTF8String => Some(u)
        case _ => None
      } else None

    /** Conjunct-intersected [lo, hi] the filters allow for `c`, under a
      * kind-checked literal extractor. Strict-inequality adjustment
      * overflows safely toward "keep the file". */
    private def boundsOf(c: String, lit: Literal => Option[Long]): (Long, Long) = {
      var lo = Long.MinValue; var hi = Long.MaxValue
      def visit(e: Expression): Unit = e match {
        case And(l, r) => visit(l); visit(r)
        case GreaterThanOrEqual(a: AttributeReference, l: Literal) if a.name == c =>
          lit(l).foreach(v => lo = math.max(lo, v))
        case GreaterThan(a: AttributeReference, l: Literal) if a.name == c =>
          lit(l).foreach(v => lo = math.max(lo, v + 1))
        case LessThanOrEqual(a: AttributeReference, l: Literal) if a.name == c =>
          lit(l).foreach(v => hi = math.min(hi, v))
        case LessThan(a: AttributeReference, l: Literal) if a.name == c =>
          lit(l).foreach(v => hi = math.min(hi, v - 1))
        case EqualTo(a: AttributeReference, l: Literal) if a.name == c =>
          lit(l).foreach { v => lo = math.max(lo, v); hi = math.min(hi, v) }
        case EqualNullSafe(a: AttributeReference, l: Literal)
            if a.name == c && l.value != null =>
          lit(l).foreach { v => lo = math.max(lo, v); hi = math.min(hi, v) }
        case GreaterThanOrEqual(l: Literal, a: AttributeReference) if a.name == c =>
          lit(l).foreach(v => hi = math.min(hi, v))
        case GreaterThan(l: Literal, a: AttributeReference) if a.name == c =>
          lit(l).foreach(v => hi = math.min(hi, v - 1))
        case LessThanOrEqual(l: Literal, a: AttributeReference) if a.name == c =>
          lit(l).foreach(v => lo = math.max(lo, v))
        case LessThan(l: Literal, a: AttributeReference) if a.name == c =>
          lit(l).foreach(v => lo = math.max(lo, v + 1))
        case EqualTo(l: Literal, a: AttributeReference) if a.name == c =>
          lit(l).foreach { v => lo = math.max(lo, v); hi = math.min(hi, v) }
        case EqualNullSafe(l: Literal, a: AttributeReference)
            if a.name == c && l.value != null =>
          lit(l).foreach { v => lo = math.max(lo, v); hi = math.min(hi, v) }
        case _ => ()
      }
      dataFilters.foreach(visit)
      (lo, hi)
    }

    /** Inclusive-widened UTF-8-binary string bounds for `c`: strict
      * inequalities widen to their inclusive form (there is no "+1" on
      * strings) — conservative, never prunes a boundary file wrongly. */
    private def strBoundsOf(c: String): (Option[UTF8String], Option[UTF8String]) = {
      var lo: Option[UTF8String] = None
      var hi: Option[UTF8String] = None
      def tightenLo(v: UTF8String): Unit =
        if (lo.forall(_.binaryCompare(v) < 0)) lo = Some(v)
      def tightenHi(v: UTF8String): Unit =
        if (hi.forall(_.binaryCompare(v) > 0)) hi = Some(v)
      def visit(e: Expression): Unit = e match {
        case And(l, r) => visit(l); visit(r)
        case GreaterThanOrEqual(a: AttributeReference, l: Literal) if a.name == c =>
          litStr(l).foreach(tightenLo)
        case GreaterThan(a: AttributeReference, l: Literal) if a.name == c =>
          litStr(l).foreach(tightenLo)
        case LessThanOrEqual(a: AttributeReference, l: Literal) if a.name == c =>
          litStr(l).foreach(tightenHi)
        case LessThan(a: AttributeReference, l: Literal) if a.name == c =>
          litStr(l).foreach(tightenHi)
        case EqualTo(a: AttributeReference, l: Literal) if a.name == c =>
          litStr(l).foreach { v => tightenLo(v); tightenHi(v) }
        case EqualNullSafe(a: AttributeReference, l: Literal)
            if a.name == c && l.value != null =>
          litStr(l).foreach { v => tightenLo(v); tightenHi(v) }
        case GreaterThanOrEqual(l: Literal, a: AttributeReference) if a.name == c =>
          litStr(l).foreach(tightenHi)
        case GreaterThan(l: Literal, a: AttributeReference) if a.name == c =>
          litStr(l).foreach(tightenHi)
        case LessThanOrEqual(l: Literal, a: AttributeReference) if a.name == c =>
          litStr(l).foreach(tightenLo)
        case LessThan(l: Literal, a: AttributeReference) if a.name == c =>
          litStr(l).foreach(tightenLo)
        case EqualTo(l: Literal, a: AttributeReference) if a.name == c =>
          litStr(l).foreach { v => tightenLo(v); tightenHi(v) }
        case EqualNullSafe(l: Literal, a: AttributeReference)
            if a.name == c && l.value != null =>
          litStr(l).foreach { v => tightenLo(v); tightenHi(v) }
        case _ => ()
      }
      dataFilters.foreach(visit)
      (lo, hi)
    }

    /** Every top-level `c IN (…)` conjunct whose elements ALL extract
      * under the kind-checked extractor (one unmatched element voids
      * that conjunct's constraint — it could match anything). Null
      * list elements match nothing and drop from the set. */
    private def inSetsNumOf(c: String, kind: Char): Seq[Set[Long]] = {
      val lit = litFor(kind) _
      val b = Seq.newBuilder[Set[Long]]
      def kindType(dt: org.apache.spark.sql.types.DataType): Boolean = {
        import org.apache.spark.sql.types._
        kind match {
          case 'i' => dt == ByteType || dt == ShortType ||
            dt == IntegerType || dt == LongType
          case 'd' => dt == DateType
          case 't' => dt == TimestampType || dt == TimestampNTZType
          case _ => false
        }
      }
      def visit(e: Expression): Unit = e match {
        case And(l, r) => visit(l); visit(r)
        case In(a: AttributeReference, list) if a.name == c =>
          val lits = list.collect { case l: Literal => l }
          if (lits.length == list.length) {
            val vals = lits.filter(_.value != null).flatMap(lit(_))
            // every non-null element must type-match, or no constraint
            if (vals.length == lits.count(_.value != null)) b += vals.toSet
          }
        case InSet(a: AttributeReference, hset) if a.name == c && kindType(a.dataType) =>
          // InSet holds internal values of the attribute's own type —
          // the kind/type agreement above is the same unit guarantee
          // litFor gives In's literals
          b += hset.iterator.filter(_ != null).collect {
            case n: java.lang.Number => n.longValue
          }.toSet
        case _ => ()
      }
      dataFilters.foreach(visit)
      b.result()
    }

    private def inSetsStrOf(c: String): Seq[Set[UTF8String]] = {
      val b = Seq.newBuilder[Set[UTF8String]]
      def visit(e: Expression): Unit = e match {
        case And(l, r) => visit(l); visit(r)
        case In(a: AttributeReference, list) if a.name == c =>
          val lits = list.collect { case l: Literal => l }
          if (lits.length == list.length) {
            val vals = lits.filter(_.value != null).flatMap(litStr(_))
            if (vals.length == lits.count(_.value != null)) b += vals.toSet
          }
        case InSet(a: AttributeReference, hset) if a.name == c &&
            a.dataType == org.apache.spark.sql.types.StringType =>
          b += hset.iterator.filter(_ != null).collect {
            case u: UTF8String => u
          }.toSet
        case _ => ()
      }
      dataFilters.foreach(visit)
      b.result()
    }

    /** Null-relevant shape of the conjuncts on `c`: does any extracted
      * comparison/membership conjunct reject nulls (`hasCmp` — an
      * all-null file then provably holds no matching row), and is
      * `c IS [NOT] NULL` (or `c <=> NULL`) demanded. */
    private final case class Shape(hasCmp: Boolean, reqNull: Boolean,
                                   reqNotNull: Boolean)
    private def shapeOf(c: String): Shape = {
      var hasCmp = false; var reqNull = false; var reqNotNull = false
      def side(x: Expression, y: Expression): Boolean = (x, y) match {
        case (a: AttributeReference, _: Literal) if a.name == c => true
        case (_: Literal, a: AttributeReference) if a.name == c => true
        case _ => false
      }
      def visit(e: Expression): Unit = e match {
        case And(l, r) => visit(l); visit(r)
        case GreaterThanOrEqual(x, y) if side(x, y) => hasCmp = true
        case GreaterThan(x, y) if side(x, y) => hasCmp = true
        case LessThanOrEqual(x, y) if side(x, y) => hasCmp = true
        case LessThan(x, y) if side(x, y) => hasCmp = true
        case EqualTo(x, y) if side(x, y) => hasCmp = true
        case EqualNullSafe(a: AttributeReference, l: Literal) if a.name == c =>
          if (l.value == null) reqNull = true else hasCmp = true
        case EqualNullSafe(l: Literal, a: AttributeReference) if a.name == c =>
          if (l.value == null) reqNull = true else hasCmp = true
        case In(a: AttributeReference, _) if a.name == c => hasCmp = true
        case InSet(a: AttributeReference, _) if a.name == c => hasCmp = true
        case IsNull(a: AttributeReference) if a.name == c => reqNull = true
        case IsNotNull(a: AttributeReference) if a.name == c => reqNotNull = true
        case _ => ()
      }
      dataFilters.foreach(visit)
      Shape(hasCmp, reqNull, reqNotNull)
    }

    private val numBounds = scala.collection.mutable.Map[(String, Char), (Long, Long)]()
    private val strBounds =
      scala.collection.mutable.Map[String, (Option[UTF8String], Option[UTF8String])]()
    private val numSets = scala.collection.mutable.Map[(String, Char), Seq[Set[Long]]]()
    private val strSets = scala.collection.mutable.Map[String, Seq[Set[UTF8String]]]()
    private val shapes = scala.collection.mutable.Map[String, Shape]()
    private def shape(c: String): Shape = shapes.getOrElseUpdate(c, shapeOf(c))

    /** May the file at `rel` contain a row passing the filters? False
      * only on PROOF of absence from the recorded ranges/null counts. */
    def keep(rel: String): Boolean = {
      val colRanges = stats.getOrElse(rel, Map.empty)
      val colNulls = nulls.getOrElse(rel, Map.empty)
      val rangesOk = colRanges.forall {
        case (c, NumRange(kind, fLo, fHi)) =>
          val (qLo, qHi) = numBounds.getOrElseUpdate((c, kind),
            boundsOf(c, litFor(kind)))
          fHi >= qLo && fLo <= qHi && {
            val sets = numSets.getOrElseUpdate((c, kind), inSetsNumOf(c, kind))
            sets.forall(_.exists(v => v >= fLo && v <= fHi))
          }
        case (c, _: StrRange) =>
          val (qLo, qHi) = strBounds.getOrElseUpdate(c, strBoundsOf(c))
          val (fLo, fHi) = strFileBounds((rel, c))
          qLo.forall(l => fHi.binaryCompare(l) >= 0) &&
            qHi.forall(h => fLo.binaryCompare(h) <= 0) && {
              val sets = strSets.getOrElseUpdate(c, inSetsStrOf(c))
              // fHi may be a truncation-widened upper bound: membership
              // probes against [fLo, fHi] over-cover, never under
              sets.forall(_.exists(v =>
                v.binaryCompare(fLo) >= 0 && v.binaryCompare(fHi) <= 0))
            }
      }
      rangesOk && colNulls.forall { case (c, (nn, total)) =>
        val sh = shape(c)
        val allNull = nn == total // includes the zero-row file
        if (allNull && (sh.reqNotNull || sh.hasCmp)) false
        else if (sh.reqNull && nn == 0) false
        else true
      }
    }
  }

  private def strBoundsCacheOf(stats: Map[String, Map[String, ColRange]])
      : Map[(String, String), (UTF8String, UTF8String)] =
    // pre-encode string bounds ONCE: the keep-test runs per file per
    // planned read, and re-encoding UTF8Strings there would undo the
    // one-walk-per-column economy the bounds cache buys
    stats.iterator.flatMap { case (rel, cols) =>
      cols.iterator.collect { case (c, StrRange(lo, hi)) =>
        (rel, c) -> ((UTF8String.fromString(lo), UTF8String.fromString(hi)))
      }
    }.toMap

  /** Process-wide memo of [[ManifestFileIndex.partitioned]] per
    * committed (immutable) snapshot — planning cost is paid once per
    * snapshot per process, not once per planned read. */
  private val partGroupMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(InternalRow, Seq[(String, FileStatusWithMetadata)])]]()
  private val partGroupBuilds =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Count of partition-grouping builds paid for `liveDir` this
    * process — observable so a spec can pin "one grouping parse per
    * snapshot per process" (repeat reads of the same snapshot must not
    * re-group). Resets only on the bounded-memo clear. */
  def manifestGroupingBuildsFor(liveDir: String): Long =
    Option(partGroupBuilds.get(new java.io.File(liveDir).getAbsolutePath))
      .map(_.longValue).getOrElse(0L)

  private def warnMalformedManifest(msg: String): Unit = logWarning(msg)

  /** MANIFEST-PLANNED snapshot read (the Iceberg-manifest / Delta-
    * checkpoint move): the file list, sizes, partition values, and
    * per-file stats all come from the version's commit-time metadata —
    * planning performs ZERO directory listing at any file count, and a
    * stray file dropped into the snapshot dir is invisible (the
    * manifest IS the table). Files whose recorded range/null-count
    * provably misses the pushed data filters are dropped before any
    * parquet footer is opened; partition pruning evaluates against the
    * manifest's parsed `col=val` values. `retained` is probed on every
    * listFiles call (execution planning): a snapshot expired by VACUUM
    * mid-plan surfaces as a loud [[graft.operators.SnapshotExpiredException]]
    * instead of a raw FileNotFoundException at task time. `liveDir`
    * is the root the `entries` are relative to: a snapshot dir, or one
    * compaction unit of it.
    */
  def manifestRead(spark: SparkSession, liveDir: String,
                   schema: StructType, partCols: Seq[String],
                   entries: Seq[(String, Long)],
                   stats: Map[String, Map[String, ColRange]],
                   nulls: Map[String, Map[String, (Long, Long)]],
                   retained: () => Boolean, expiredMsg: String): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val partSchema = StructType(
      partCols.flatMap(c => schema.find(_.name.equalsIgnoreCase(c))))
    val dataSchema = StructType(
      schema.filterNot(f => partCols.exists(_.equalsIgnoreCase(f.name))))
    val index = new ManifestFileIndex(cs, liveDir, dataSchema, partSchema,
      entries, stats, nulls, strBoundsCacheOf(stats), retained, expiredMsg)
    val relation = HadoopFsRelation(index, partSchema, dataSchema,
      bucketSpec = None, new ParquetFileFormat, options = Map.empty)(cs)
    dataFrameOf(spark, LogicalRelation(relation))
  }

  /** The FileIndex behind [[manifestRead]]: listFiles filters the
    * in-memory manifest — no filesystem call except the O(1) retention
    * probe. Partition pruning mirrors InMemoryFileIndex's name-bound
    * interpreted predicate; file pruning is [[PruneContext]]'s. */
  private final class ManifestFileIndex(
      cs: org.apache.spark.sql.classic.SparkSession,
      liveDir: String,
      dataSchema: StructType,
      partSchema: StructType,
      entries: Seq[(String, Long)],
      stats: Map[String, Map[String, ColRange]],
      nulls: Map[String, Map[String, (Long, Long)]],
      strFileBounds: Map[(String, String), (UTF8String, UTF8String)],
      retained: () => Boolean,
      expiredMsg: String) extends FileIndex {

    // NOTE: not File.toURI — for directories it appends a trailing
    // slash, and a Hadoop Path built from such a URI lists ZERO files
    private val rootAbs = new java.io.File(liveDir).getAbsolutePath
    private val root = new org.apache.hadoop.fs.Path("file:" + rootAbs)

    override def rootPaths: Seq[org.apache.hadoop.fs.Path] = Seq(root)
    override def partitionSchema: StructType = partSchema
    override val sizeInBytes: Long = entries.iterator.map(_._2).sum
    override def inputFiles: Array[String] =
      entries.iterator.map(e => s"file:$rootAbs/${e._1}").toArray
    override def refresh(): Unit = ()

    /** Hive `col=val` partition value of one path segment, cast to the
      * partition column's type through the session zone (the same cast
      * partition discovery applies). */
    private def partValueOf(seg: String,
                            field: org.apache.spark.sql.types.StructField): Any = {
      val raw = seg.substring(seg.indexOf('=') + 1)
      if (raw == "__HIVE_DEFAULT_PARTITION__") null
      else {
        val unesc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(raw)
        Cast(Literal(UTF8String.fromString(unesc),
            org.apache.spark.sql.types.StringType), field.dataType,
          Some(cs.sessionState.conf.sessionLocalTimeZone)).eval(null)
      }
    }

    /** Manifest entries grouped per partition directory, values parsed
      * once per SNAPSHOT per process (committed snapshots are
      * immutable, so the grouping + partition-value casts are memoized
      * process-wide — before r20 this rebuilt on every planned read,
      * O(files) driver CPU per read at real file counts). Keyed by
      * snapshot dir + session timezone (the cast depends on it) +
      * partition chain, under the same immutability discipline as
      * TableMerge's snapshot memo.
      *
      * Rows the partition chain cannot place FAIL OPEN — skipped with
      * a warning, not thrown (ADVICE r19: a single malformed row — e.g.
      * a hand-edited manifest listing a root-level file of a
      * partitioned snapshot — made every subsequent read of the table
      * throw, permanently). A skipped row is invisible to the scan, as
      * a file outside the `col=val` tree is to partition discovery. */
    private lazy val partitioned: Seq[(InternalRow, Seq[(String, FileStatusWithMetadata)])] = {
      val key = s"$rootAbs\u0000${cs.sessionState.conf.sessionLocalTimeZone}" +
        s"\u0000${partSchema.map(_.name).mkString(",")}"
      boundedMemo(partGroupMemo, 64, key)(buildPartitioned())
    }

    private def buildPartitioned(): Seq[(InternalRow, Seq[(String, FileStatusWithMetadata)])] = {
      partGroupBuilds.merge(rootAbs, java.lang.Long.valueOf(1L),
        (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
      def status(rel: String, size: Long): FileStatusWithMetadata =
        FileStatusWithMetadata(new org.apache.hadoop.fs.FileStatus(
          size, false, 1, 128L * 1024 * 1024, 0L,
          new org.apache.hadoop.fs.Path(s"file:$rootAbs/$rel")))
      if (partSchema.isEmpty)
        Seq((InternalRow.empty,
          entries.map { case (rel, size) => rel -> status(rel, size) }))
      else {
        def wellFormed(segs: Seq[String]): Boolean =
          segs.length == partSchema.length &&
            segs.zip(partSchema).forall { case (seg, f) =>
              val eq = seg.indexOf('=')
              eq > 0 && seg.substring(0, eq).equalsIgnoreCase(f.name)
            }
        val grouped = entries.groupBy { case (rel, _) =>
          rel.split('/').dropRight(1).toSeq
        }
        val (ok, bad) = grouped.partition { case (segs, _) => wellFormed(segs) }
        if (bad.nonEmpty) warnMalformedManifest(
          s"skipping ${bad.valuesIterator.map(_.size).sum} manifest entr(ies) under " +
            s"$liveDir whose directory chain does not match the partition columns " +
            s"${partSchema.map(_.name).mkString("/")} (e.g. ${bad.keysIterator.next().mkString("/")})")
        ok.iterator.map { case (segs, files) =>
          val values = InternalRow.fromSeq(
            partSchema.zip(segs).map { case (f, seg) => partValueOf(seg, f) })
          (values, files.map { case (rel, size) => rel -> status(rel, size) })
        }.toSeq
      }
    }

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      if (!retained())
        throw new graft.operators.SnapshotExpiredException(expiredMsg)
      val afterPart =
        if (partitionFilters.isEmpty || partSchema.isEmpty) partitioned
        else {
          // name-bound interpreted predicate (InMemoryFileIndex's own
          // pruning discipline); a filter referencing anything outside
          // the partition schema keeps every partition (never happens
          // from the planner, but pruning must fail open, not throw)
          val cond = partitionFilters.reduce(And)
          val bindable = cond.references.forall(a =>
            partSchema.exists(_.name == a.name))
          if (!bindable) partitioned
          else {
            val predicate = Predicate.createInterpreted(cond.transform {
              case a: AttributeReference =>
                val idx = partSchema.indexWhere(_.name == a.name)
                BoundReference(idx, partSchema(idx).dataType, nullable = true)
            })
            predicate.initialize(0)
            partitioned.filter(p => predicate.eval(p._1))
          }
        }
      val dirs =
        if (dataFilters.isEmpty)
          afterPart.map { case (values, files) =>
            PartitionDirectory(values, files.map(_._2.fileStatus).toArray)
          }
        else {
          val ctx = new PruneContext(dataFilters, stats, nulls, strFileBounds)
          afterPart.map { case (values, files) =>
            PartitionDirectory(values,
              files.collect { case (rel, f) if ctx.keep(rel) => f.fileStatus }.toArray)
          }
        }
      dirs.filter(_.files.nonEmpty)
    }
  }
}
