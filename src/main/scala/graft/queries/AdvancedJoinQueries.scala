package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.PipelineShared.Q

/** Advanced-join tier — split from CoreQueries in r12 (mechanical move,
  * registry names and oracles unchanged): the bucketed co-located join
  * over a pre-bucketed fixture, the as-of join, the event-time range
  * join, and the TPC-H Q3-shaped SQL-entry query.
  */
private[graft] object AdvancedJoinQueries {

  /** J15 — bucketed co-located join (the brief's "bucketing for
    * co-located joins" scale path): both sides are written `bucketBy`
    * the join key with the same bucket count, so the sort-merge join
    * consumes the bucket layout directly — NO exchange on either side
    * (PlanSpec-asserted). At 100 TB this is the shape for repeated
    * fact-to-fact joins where neither side broadcasts: the shuffle is
    * paid once at write time, then every downstream join is co-located.
    * The catalog tables live under spark-warehouse/ (in-memory catalog);
    * a real deployment points `spark.sql.warehouse.dir` at shared
    * storage. */
  /** Bucketed-fixture memo: the table writes are SETUP (the
    * pay-the-shuffle-once-at-write-time half of the bucketing story),
    * not the operator under test — building them once per
    * (session, sfDir) keeps the bench figure measuring the
    * zero-exchange join read path instead of two table writes. Keyed
    * session → built sfDir so a dir switch rebuilds (the catalog holds
    * ONE fixture at a time); the lock serializes concurrent builders. */
  private val bucketedFixtureDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  private def ensureBucketedTables(s: SparkSession, d: String, buckets: Int): Unit =
    bucketedFixtureDir.synchronized {
      if (bucketedFixtureDir.get(s) == d) return
      // the in-memory catalog forgets tables across sessions but their
      // warehouse dirs survive — drop both or saveAsTable refuses the
      // location (LOCATION_ALREADY_EXISTS)
      def reset(name: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val wh = s.conf.get("spark.sql.warehouse.dir")
        val dir = if (wh.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(wh))
          else java.nio.file.Paths.get(wh)
        graft.operators.TableMerge.deleteRecursively(dir.resolve(name))
      }
      reset("graft_b_orders")
      reset("graft_b_lineitem")
      Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_b_orders")
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
        .write.mode("overwrite").bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_b_lineitem")
      bucketedFixtureDir.put(s, d): Unit
    }

  private val j15BucketedJoin: Q = (s, d) => {
    ensureBucketedTables(s, d, buckets = 8)
    s.table("graft_b_orders")
      .join(s.table("graft_b_lineitem"), col("o_orderkey") === col("l_orderkey"), "inner")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"), round(sum("l_quantity"), 2).as("total_qty"))
      .orderBy("o_orderstatus")
  }

  /** J16 — AS-OF (point-in-time) join, the time-series operator Spark
    * has no built-in for: each 'view' event picks the LATEST 'purchase'
    * event of the same user at-or-before its timestamp (the reference's
    * state-lookup shape generalized to event time; DuckDB verifies with
    * its native ASOF JOIN).
    *
    * Implementation is the scale-correct union+window form, NOT an
    * inequality join: tag both sides, union, one shuffle on user_id,
    * then a running `last(..., ignoreNulls)` ordered by (ts, side) —
    * side 0 (purchase) sorts before side 1 (view) at equal ts, giving
    * at-or-INCLUSIVE semantics. Cost is one shuffle + one sort per key,
    * independent of time-range density; a range-predicate join would
    * degrade toward per-user cross products on active users, and Spark
    * would plan it as BNLJ absent an equi-key. Purchase ties at equal
    * (user, ts) resolve to max(event_id) INSIDE the window ordering
    * (ts, side, p_event_id) — a pre-dedup groupBy would cost a third
    * shuffle on a key the window can't reuse (PlanSpec pins the
    * 2-hash-exchange shape). Output aggregates per day so every row's
    * match still pins the hash (counts + matched-id sum). */
  private val j16AsofJoin: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val tagged = purchases.select(col("user_id"), col("ts"), lit(0).as("side"),
        col("p_event_id"), lit(null).cast("long").as("view_event_id"))
      .unionByName(views.select(col("user_id"), col("ts"), lit(1).as("side"),
        lit(null).cast("long").as("p_event_id"), col("event_id").as("view_event_id")))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("side"), col("p_event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_p", last("p_event_id", ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_views"),
        count(col("asof_p")).as("n_matched"),
        coalesce(sum("asof_p"), lit(0L)).as("sum_p_event_id"))
      .orderBy("day")
  }

  /** J17 — bounded range (interval) join: for each 'signup' event, the
    * 'error' events of the same user inside (signup_ts, signup_ts+6h].
    * Scale-correct BIN join, not an inequality join: errors land in
    * their own 6-hour bucket; each signup explodes into the (at most 2)
    * buckets its window overlaps; the join is then an EQUI-join on
    * (user_id, bucket) with the exact range as a residual filter — the
    * shuffle key is (user, time-bucket), candidate volume is bounded by
    * bucket width, and no pair is produced twice (an error lives in
    * exactly one bucket). DuckDB verifies with the plain inequality
    * join. Window is half-open (strictly after the signup) so the
    * signup row itself can never self-match in either engine. */
  private val j17RangeJoin: Q = (s, d) => {
    val binSec = 6 * 3600L
    val ev = Tables.events(s, d)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("s_ts"),
        explode(sequence(
          (unix_timestamp(col("ts")) / binSec).cast("long"),
          ((unix_timestamp(col("ts")) + binSec) / binSec).cast("long"))).as("bin"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("e_ts"),
        (unix_timestamp(col("ts")) / binSec).cast("long").as("bin"))
    signups.join(errors, Seq("user_id", "bin"), "inner")
      .filter(col("e_ts") > col("s_ts") &&
        col("e_ts") <= col("s_ts") + expr(s"INTERVAL $binSec SECOND"))
      .groupBy(to_date(col("s_ts")).as("day"))
      .agg(countDistinct("signup_id").as("n_signups_with_errors"),
        count(lit(1)).as("n_error_pairs"),
        sum("error_id").as("sum_error_id"))
      .orderBy("day")
  }

  /** J18 — salted SKEW join (builder brief "salting for skew"): events
    * carry a pathological key distribution — ~70% of rows collapse onto
    * one 'hot' key — and join a 101-row dim that is deliberately NOT
    * broadcast (MERGE hint pins sort-merge), the regime of a dim too
    * big for the broadcast threshold at production row widths. A plain
    * SMJ funnels the hot key through one reducer; here the probe side
    * salts each row deterministically (`xxhash64(event_id) % B` —
    * stable under retries, no `rand()` in the plan) and the dim side
    * replicates ×B ([[graft.operators.SkewSalt.replicateForSalt]]), so
    * the join key becomes (skew_key, salt) and the hot key spreads
    * over B reducers. Complements AQE skew splitting, which only
    * rebalances post-shuffle partitions of the SAME key pair — salting
    * also fixes the downstream per-key aggregation via the two-phase
    * (key, salt) → key reduce. Oracle is the unsalted relational join:
    * salting must be semantics-free. */
  private val j18SkewSaltedJoin: Q = (s, d) => {
    import graft.operators.SkewSalt
    val buckets = 8
    val probe = SkewSalt.withSalt(
      Tables.events(s, d).select(
        when(col("user_id") % 10 < 7, lit("hot"))
          .otherwise(concat(lit("u"), (col("user_id") % 100).cast("string")))
          .as("skew_key"),
        col("event_id"), col("value")),
      buckets, saltSource = Seq("event_id"))
    val dim = s.range(0, 100)
      .select(concat(lit("u"), col("id").cast("string")).as("skew_key"),
        col("id").as("dim_weight"))
      .unionByName(s.range(0, 1)
        .select(lit("hot").as("skew_key"), lit(100L).as("dim_weight")))
    probe.join(SkewSalt.replicateForSalt(dim, buckets).hint("merge"),
        Seq("skew_key", "__salt"), "inner")
      .groupBy(col("skew_key"), col("__salt"))
      .agg(count(lit(1)).as("pn"),
        sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("pv"),
        max("dim_weight").as("dim_weight"))
      .groupBy("skew_key")
      .agg(sum("pn").as("n"), sum("pv").as("sum_value_e2"),
        max("dim_weight").as("dim_weight"))
      .orderBy("skew_key")
  }

  /** J19 — Bloom SEMI-JOIN reduction (the runtime-filter pattern, by
    * hand): a fact⋈dim join where the dim predicate keeps ~20% of keys
    * and neither side broadcasts as ROWS — but the dim's KEY SET fits
    * a Bloom sketch at ~10 bits/key (a 100M-key dim is ~125 MB of
    * bitmap vs many GB of hash-join rows). The filtered dim keys fold
    * into an in-plan `graft_bloom_agg` sketch (partials OR-merge, no
    * driver collect), the 1-row sketch broadcasts, and the fact scan
    * probes `graft_bloom_contains` BEFORE its shuffle — only ~the
    * matching fraction of the 100 TB fact table pays exchange I/O; the
    * exact join afterwards removes Bloom false positives. No false
    * negatives ⇒ prefilter + join ≡ the plain join, so the oracle is
    * the ordinary join SQL and a green hash proves the reduction is
    * semantics-free. Same sketch machinery as `text_decontam_bloom`,
    * but on the JOIN path (Spark's own runtime row-group filters only
    * kick in via DPP/AQE in narrower shapes; this form is explicit and
    * engine-portable). */
  private val j19BloomSemiJoin: Q = (s, d) => {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val sketch = urgent.agg(expr("graft_bloom_agg(o_orderkey, 262144, 6)").as("bloom"))
    val facts = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("price_e2"))
    // the sketch rides a SCALAR SUBQUERY, not a broadcast cross join
    // (r21): joined-in, the 32 KiB binary is re-read from the joined
    // UnsafeRow per fact row — getBinary COPIES, so the scan allocated
    // ~32 KiB × |lineitem| just to probe 6 bits; as a scalar the bloom
    // is evaluated once and lands in codegen as one referenced constant
    val survivors = facts.filter(
      call_function("graft_bloom_contains", sketch.scalar(), col("l_orderkey")))
    survivors.join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"), sum("price_e2").as("sum_price_e2"))
      .orderBy("l_returnflag")
  }

  /** SQL-API surface: the same engine driven through `spark.sql` over
    * the registered temp-view catalog (S3's other face) — a TPC-H
    * Q3-shaped shipping-priority query. Each summand is fixed-pointed
    * to integer cents×basis-points PER ROW (floor(x·100+0.5) is a
    * per-row deterministic double op), so the aggregate is an exact
    * LONG sum — order-independent across engines, unlike summing
    * doubles, where the partial-aggregation order shifts the last ulp
    * and a floor-grid sort key can flip at the LIMIT boundary (observed
    * off-by-one on first verify). The plan is identical to what the
    * DataFrame API would build (same Catalyst, same broadcast/AQE
    * decisions). */
  private val sqlShippingPriority: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT l_orderkey,
        |  sum(CAST(floor(l_extendedprice * 100D + 0.5D) AS BIGINT) *
        |      CAST(floor((1.0D - l_discount) * 100D + 0.5D) AS BIGINT)) AS revenue_e4,
        |  to_date(o_orderdate) AS order_date, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'HOUSEHOLD'
        |  AND o_orderdate < TIMESTAMP '1999-06-30 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1999-06-30 00:00:00'
        |GROUP BY l_orderkey, to_date(o_orderdate), o_orderpriority
        |ORDER BY revenue_e4 DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin)
  }


  val queries: Seq[(String, Q)] = Seq(
    "j15_bucketed_join" -> j15BucketedJoin,
    "j16_asof_join" -> j16AsofJoin,
    "j17_range_join" -> j17RangeJoin,
    "j18_skew_salted_join" -> j18SkewSaltedJoin,
    "j19_bloom_semi_join" -> j19BloomSemiJoin,
    "sql_shipping_priority" -> sqlShippingPriority,
  )

  val oracles: Map[String, String] = Map(
    "j15_bucketed_join" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_lines,
        |  round(sum(l_quantity), 2) AS total_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "j16_asof_join" ->
      """WITH p AS (
        |  SELECT user_id, ts, max(event_id) AS p_event_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |v AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
        |SELECT CAST(v.ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS n_views,
        |  CAST(count(p.p_event_id) AS BIGINT) AS n_matched,
        |  CAST(coalesce(sum(p.p_event_id), 0) AS BIGINT) AS sum_p_event_id
        |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts
        |GROUP BY day ORDER BY day""".stripMargin,
    "j17_range_join" ->
      """SELECT CAST(s.ts AS DATE) AS day,
        |  CAST(count(DISTINCT s.event_id) AS BIGINT) AS n_signups_with_errors,
        |  CAST(count(*) AS BIGINT) AS n_error_pairs,
        |  CAST(sum(e.event_id) AS BIGINT) AS sum_error_id
        |FROM events s JOIN events e
        |  ON s.event_type = 'signup' AND e.event_type = 'error'
        |  AND e.user_id = s.user_id
        |  AND e.ts > s.ts AND e.ts <= s.ts + INTERVAL '6 hours'
        |GROUP BY day ORDER BY day""".stripMargin,
    "j18_skew_salted_join" ->
      """WITH dim AS (
        |  SELECT 'u' || CAST(i AS VARCHAR) AS skew_key, CAST(i AS BIGINT) AS dim_weight
        |  FROM generate_series(0, 99) t(i)
        |  UNION ALL SELECT 'hot', 100),
        |ev AS (
        |  SELECT CASE WHEN user_id % 10 < 7 THEN 'hot'
        |    ELSE 'u' || CAST(user_id % 100 AS VARCHAR) END AS skew_key,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_e2
        |  FROM events)
        |SELECT e.skew_key, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(e.value_e2) AS BIGINT) AS sum_value_e2,
        |  CAST(max(d.dim_weight) AS BIGINT) AS dim_weight
        |FROM ev e JOIN dim d ON e.skew_key = d.skew_key
        |GROUP BY e.skew_key ORDER BY e.skew_key""".stripMargin,
    "j19_bloom_semi_join" ->
      // the plain semi join — the Bloom prefilter must be invisible
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_price_e2
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "sql_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
        |      CAST(floor((1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'HOUSEHOLD'
        |  AND o_orderdate < TIMESTAMP '1999-06-30 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1999-06-30 00:00:00'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        |ORDER BY revenue_e4 DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
  )
}
