package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational-extras tier — split from CoreQueries in r12 (mechanical
  * move, registry names and oracles unchanged): INTERSECT/EXCEPT set
  * ops, explicit GROUPING SETS, native session_window, UNPIVOT, and
  * the null-safe equality join.
  */
private[queries] object RelationalExtrasQueries {

  type Q = (SparkSession, String) => DataFrame

  /** U3 — INTERSECT / EXCEPT set operators (the remaining two of SQL's
    * set-op triple; Spark plans both as aggregated joins — semi for
    * intersect, anti for except — over DISTINCT inputs, i.e. one hash
    * shuffle each on the full row as key): customers who finished an
    * order vs customers with a high balance, all three regions of the
    * Venn diagram pinned by count + key-sum. */
  private val u3SetOps: Q = (s, d) => {
    val a = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val b = Tables.customer(s, d).filter(col("c_acctbal") >= 5000.0)
      .select("c_custkey")
    def agg(df: DataFrame, label: String): DataFrame = df
      .agg(count(lit(1)).as("n"),
        coalesce(sum("c_custkey"), lit(0L)).as("sum_key"))
      .select(lit(label).as("op"), col("n"), col("sum_key"))
    agg(a.intersect(b), "intersect")
      .unionByName(agg(a.except(b), "except_ab"))
      .unionByName(agg(b.except(a), "except_ba"))
      .orderBy("op")
  }


  /** A15 — explicit GROUPING SETS (the general form A9's ROLLUP and
    * A13's CUBE are shorthands of — here an asymmetric set list no
    * shorthand expresses: per-status, per-priority, and grand total,
    * but NOT the cross product): one Expand-based aggregate pass, same
    * partial/final split as any groupBy. Null group keys are labeled
    * with sentinels so the hash never depends on engine-specific
    * grouping-id encodings. */
  private val a15GroupingSets: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT coalesce(o_orderstatus, '<all>') AS status,
        |  coalesce(o_orderpriority, '<all>') AS priority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(floor(o_totalprice * 100D + 0.5D) AS BIGINT)) AS cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)
  }

  /** W5 — native `session_window` event-time sessionization: the
    * second sessionization surface (`sessionize_batch` is the
    * gaps-and-islands window form; this is Spark's BUILT-IN session
    * aggregate, the one a SQL user reaches for) hash-pinned against the
    * same relational gap rule — session = maximal run of a user's events with
    * consecutive gaps ≤ 30 min, end = last event + gap. One shuffle on
    * user_id, sessions merged inside the aggregate. Milliseconds on
    * both engines (unix_millis ↔ epoch_ms). */
  private val w5SessionWindow: Q = (s, d) =>
    Tables.events(s, d)
      // ms-grid truncation BEFORE the window: the oracle diffs epoch_ms
      // longs, so µs tails must not decide a merge the oracle can't see
      .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum("event_id").as("sum_event_id"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("start_ms"),
        unix_millis(col("sw.end")).as("end_ms"),
        col("n_events"), col("sum_event_id"))
      .orderBy("user_id", "start_ms")

  /** A14 — UNPIVOT / melt, the inverse reshape of A10's pivot: the
    * wide per-status pivot table (one column per priority) melts back
    * to (status, priority, value) long form via Spark's native
    * `unpivot` (Catalyst `Expand` — one pass, rows × k output, no
    * shuffle beyond the aggregate that built the input). Composing
    * pivot∘unpivot pins BOTH reshapes against one relational oracle:
    * the round trip must equal the plain groupBy. */
  private val a14Unpivot: Q = (s, d) => {
    val wide = Tables.orders(s, d)
      .withColumn("pr", concat(lit("p"), substring(col("o_orderpriority"), 1, 1)))
      .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      .groupBy("o_orderstatus")
      .pivot("pr", Seq("p1", "p2", "p3", "p4", "p5"))
      .agg(sum("cents"))
    wide.unpivot(
      Array(col("o_orderstatus")),
      Array(col("p1"), col("p2"), col("p3"), col("p4"), col("p5")),
      "priority", "cents")
      .filter(col("cents").isNotNull)
      .orderBy("o_orderstatus", "priority")
  }

  /** J20 — NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM): the
    * join-key semantics plain `=` cannot express — NULL keys MATCH each
    * other instead of dropping. Fixture: customers keyed by a nullable
    * segment-derived key (every 9th customer's key nulled) joined to a
    * dim that carries an explicit NULL-key row; under `=` those
    * customers vanish from an inner join, under `<=>` they land in the
    * dim's null bucket — the distinction pins the operator. Null-safe
    * keys hash like any value (NULL is one more key), so the shuffle
    * shape is the ordinary hash equi-join. */
  private val j20NullsafeJoin: Q = (s, d) => {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .withColumn("seg_key",
        when(col("c_custkey") % 9 === 0, lit(null).cast("string"))
          .otherwise(substring(col("c_mktsegment"), 1, 1)))
    val dim = Seq(("A", 10L), ("B", 20L), ("F", 30L), ("H", 40L), ("M", 50L))
      .toDF("seg_key", "weight")
      .unionByName(Seq((Option.empty[String], 99L)).toDF("seg_key", "weight"))
    cust.join(broadcast(dim), cust("seg_key") <=> dim("seg_key"), "inner")
      .groupBy(coalesce(cust("seg_key"), lit("<null>")).as("seg"))
      .agg(count(lit(1)).as("n"), max("weight").as("weight"))
      .orderBy("seg")
  }

  val queries: Seq[(String, Q)] = Seq(
    "a14_unpivot" -> a14Unpivot,
    "j20_nullsafe_join" -> j20NullsafeJoin,
    "w5_session_window" -> w5SessionWindow,
    "a15_grouping_sets" -> a15GroupingSets,
    "u3_set_ops" -> u3SetOps,
  )

  val oracles: Map[String, String] = Map(
    "a15_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, '<all>') AS status,
        |  coalesce(o_orderpriority, '<all>') AS priority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,
    "w5_session_window" ->
      // the same 30-min gap rule as sessionize_batch, reshaped to the
      // session_window output: (start, end = last + gap) per session
      // boundary rule matches Spark's half-open [ts, ts+gap) windows:
      // a gap of EXACTLY 30 min does NOT merge (>=, not >)
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |f AS (
        |  SELECT user_id, event_id, ms,
        |    CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
        |      OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) >= 1800000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |g AS (
        |  SELECT user_id, event_id, ms,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM f)
        |SELECT user_id,
        |  CAST(min(ms) AS BIGINT) AS start_ms,
        |  CAST(max(ms) + 1800000 AS BIGINT) AS end_ms,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
        |FROM g GROUP BY user_id, sess
        |ORDER BY user_id, start_ms""".stripMargin,
    "a14_unpivot" ->
      // pivot∘unpivot round trip must equal the plain long-form groupBy
      """SELECT o_orderstatus,
        |  'p' || substring(o_orderpriority, 1, 1) AS priority,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders GROUP BY 1, 2
        |ORDER BY o_orderstatus, priority""".stripMargin,
    "j20_nullsafe_join" ->
      """WITH cust AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 9 = 0 THEN NULL
        |      ELSE substring(c_mktsegment, 1, 1) END AS seg_key
        |  FROM customer),
        |dim AS (
        |  SELECT * FROM (VALUES ('A', CAST(10 AS BIGINT)), ('B', 20),
        |    ('F', 30), ('H', 40), ('M', 50), (NULL, 99)) t(seg_key, weight))
        |SELECT coalesce(c.seg_key, '<null>') AS seg,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(d.weight) AS BIGINT) AS weight
        |FROM cust c JOIN dim d ON c.seg_key IS NOT DISTINCT FROM d.seg_key
        |GROUP BY 1 ORDER BY seg""".stripMargin,
    "u3_set_ops" ->
      """WITH a AS (
        |  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
        |b AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal >= 5000.0),
        |i AS (SELECT k FROM a INTERSECT SELECT k FROM b),
        |ab AS (SELECT k FROM a EXCEPT SELECT k FROM b),
        |ba AS (SELECT k FROM b EXCEPT SELECT k FROM a),
        |u AS (
        |  SELECT 'intersect' AS op, count(*) AS n, coalesce(sum(k), 0) AS sum_key FROM i
        |  UNION ALL
        |  SELECT 'except_ab', count(*), coalesce(sum(k), 0) FROM ab
        |  UNION ALL
        |  SELECT 'except_ba', count(*), coalesce(sum(k), 0) FROM ba)
        |SELECT op, CAST(n AS BIGINT) AS n, CAST(sum_key AS BIGINT) AS sum_key
        |FROM u ORDER BY op""".stripMargin,
  )
}
