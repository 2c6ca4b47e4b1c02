package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Mirrors the session configuration the reference sets up in
  * `airflow/src/silver/transformer.py:1201-1256` and
  * `airflow/src/gold_analytics.py:96-115` (AQE on, tuned shuffle
  * partitions), minus the Iceberg/S3A catalog wiring — our tables are
  * plain Parquet directories (SURVEY.md §1.1). The UTC session time
  * zone is a graft-side determinism choice (stable oracle comparison),
  * not mirrored from the reference, which runs on the JVM default TZ.
  *
  * Scale note: shuffle partitions default to the local core count for
  * the test harness; on a real cluster this is expected to be overridden
  * (AQE coalescing makes the initial number a ceiling, not a target).
  *
  * Codegen cache: Spark keeps compiled whole-stage classes in one
  * JVM-wide LRU keyed on the generated source, sized by the static conf
  * `spark.sql.codegen.cache.maxEntries` (default 100). A repeated
  * workload whose working set of classes exceeds the cache cycles
  * through it at a 0% hit rate and pays a Janino compile for every
  * class on every run. [[CodegenCacheEntries]] sizes the cache to the
  * engine's measured working sets with headroom; see its comment for
  * the measurements. The conf is static and read once, when Spark's
  * code generator first loads, so the first session of a JVM fixes it.
  */
object GraftSession {

  def defaultParallelism: Int =
    sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `spark.sql.codegen.cache.maxEntries`. Measured working sets, as
    * `CodegenMetrics` compilation counts with the cache emptied before
    * the measured work (so each count is the distinct classes it needs):
    *   - one `medallion_incremental` op of the lakehouse benchmark
    *     (silver run, gold star, seven `createOrReplace`, compaction):
    *     117 classes. At the default of 100 entries it recompiled ~108
    *     of them on every op, 20-26% of the op's CPU;
    *   - one `lakehouse_reads` round (six query templates): ~47 classes
    *     after the set-up's 182, then 2 per query, because the drawn
    *     keys are literals inlined into the generated code;
    *   - the battery's `e2e_silver_gold` at sf0.1 (`graft.JobProfile`):
    *     69 classes (61, 8 and 0 compiled over three reps).
    * The whole 253-query battery was not measured. 1000 entries hold all
    * of the above at once (~420 classes) with room for the rest of a
    * session's queries. */
  val CodegenCacheEntries = 1000

  /** Build a local session with scale-sane defaults. */
  def local(appName: String = "graft", cores: Int = defaultParallelism): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // native graft function surface (graft_cosine, …) — a Catalyst
      // Expression with codegen, not a UDF (graft.expressions)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.mergeSchema", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // keep catalog-table files (j15 bucketed fixtures) under target/ so
      // a battery run never litters the repo working tree
      .config("spark.sql.warehouse.dir",
        new java.io.File("target/graft-state/warehouse").getAbsolutePath)
      // events.parquet stores TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read as long and let Tables.events rebuild the µs
      // timestamp (ns→µs truncation).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
