package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{ChangeDetector, TableMerge}
import graft.queries.PipelineShared.{statePath, wipedStatePath}

/** Incremental / change-data queries (SURVEY.md §2.9) and the MERGE-sink
  * battery (§2.1 K1/K2/K5). The merge queries materialize real Parquet
  * state under `target/graft-state/` via [[TableMerge]] and read it back,
  * so the copy-on-write path itself is under the oracle: the DuckDB SQL
  * recomputes the expected post-merge state relationally.
  */
object CdcQueries {

  type Q = (SparkSession, String) => DataFrame

  /** I2 — asset-level CDC: etag/size drift detection with coalesce
    * defaults (transformer.py:1661-1690). "Assets" = part rows; the
    * existing snapshot is missing keys %3==2 and has stale sizes for
    * keys %11==0. */
  private val i2AssetCdc: Q = (s, d) => {
    val current = Tables.part(s, d).select(
      col("p_partkey"), col("p_size"),
      sha2(concat_ws("||", col("p_name"), col("p_brand")), 256).as("etag"))
    val existing = Tables.part(s, d)
      .filter(col("p_partkey") % 3 =!= 2)
      .select(
        col("p_partkey"),
        (col("p_size") + when(col("p_partkey") % 11 === 0, 1).otherwise(0)).as("ex_size"),
        sha2(concat_ws("||", col("p_name"), col("p_brand")), 256).as("ex_etag"))
    current.join(existing, Seq("p_partkey"), "left")
      .withColumn("state",
        when(col("ex_etag").isNull, lit("new"))
          .when(coalesce(col("p_size"), lit(-1)) =!= coalesce(col("ex_size"), lit(-1)) ||
                coalesce(col("etag"), lit("")) =!= coalesce(col("ex_etag"), lit("")),
            lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy("state").agg(count(lit(1)).as("n"))
      .orderBy("state")
  }

  /** I3 — tombstoning: keys present in the existing snapshot but gone
    * from the current batch (transformer.py:1692-1705). */
  private val i3Tombstones: Q = (s, d) => {
    val current = Tables.part(s, d).filter(col("p_partkey") % 3 =!= 2).select("p_partkey")
    ChangeDetector.tombstones(Tables.part(s, d).select("p_partkey", "p_brand"), current,
        Seq("p_partkey"))
      .groupBy("p_brand").agg(count(lit(1)).as("n_deleted"))
      .orderBy("p_brand")
  }

  /** I4 — memoized bootstrap: latest state row wins, skip when hash
    * unchanged (transformer.py:1310-1362). State table built inline;
    * the "current payload hash" collides for exactly one key. */
  private val i4StateMemo: Q = (s, d) => {
    import s.implicits._
    val state = Seq(
      ("reference_v1", "hash_a", "2024-01-01 00:00:00"),
      ("reference_v1", "hash_b", "2024-02-01 00:00:00"),
      ("reference_v2", "hash_c", "2024-01-15 00:00:00"))
      .toDF("state_key", "state_hash", "updated_at")
      .withColumn("updated_at", col("updated_at").cast("timestamp"))
    val latest = state.orderBy(col("updated_at").desc_nulls_last).limit(1)
    latest.select(
      col("state_key"), col("state_hash"),
      (col("state_hash") === lit("hash_b")).as("skip_rebuild"))
  }

  /** I6 — index-incremental anti join: only not-yet-indexed docs flow to
    * the sink (elasticsearch_sync.py:342-395). */
  private val i6IndexIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val alreadyIndexed = docs.filter(col("doc_id") % 2 === 0).select("doc_id")
    docs.join(alreadyIndexed, Seq("doc_id"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_to_index"))
      .orderBy("source")
  }

  /** K1+K5 — copy-on-write MERGE upsert with schema evolution
    * (transformer.py:2421-2458): baseline = even order keys; source =
    * %3 keys with uplifted price, a new column, and 500 brand-new keys.
    * Result is the re-read post-merge table, aggregated per status. */
  private val k1MergeUpsert: Q = (s, d) => {
    val path = statePath("k1_orders_merged")
    val orders = Tables.orders(s, d)
    val target0 = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("price"))
    val source = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        round(col("o_totalprice") + 100.0, 2).as("price"),
        lit("merged").as("merge_note"))
    TableMerge.createOrReplace(target0, path)
    TableMerge.upsert(s, path, source, Seq("o_orderkey"))
    TableMerge.read(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("total_price"),
        sum(when(col("merge_note").isNotNull, 1).otherwise(0)).as("n_noted"))
      .orderBy("o_orderstatus")
  }

  /** K2 — MERGE delete: drop keys %10==3 from a customer snapshot and
    * re-read (transformer.py:2460-2484). */
  private val k2MergeDelete: Q = (s, d) => {
    val path = statePath("k2_customer_merged")
    val customer = Tables.customer(s, d)
    TableMerge.createOrReplace(
      customer.select("c_custkey", "c_mktsegment", "c_acctbal"), path)
    val deleteKeys = customer.filter(col("c_custkey") % 10 === 3).select("c_custkey")
    TableMerge.delete(s, path, deleteKeys, Seq("c_custkey"))
    TableMerge.read(s, path)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** K13 — the reference's literal SQL MERGE statement shape
    * (`silver/transformer.py:2427-2458`) executed through the engine's
    * `MERGE INTO graft.`path`` surface ([[graft.plans.SqlMerge]]):
    * a customer snapshot partitioned by market segment absorbs an
    * update feed via conditional DELETE / UPDATE / INSERT clauses
    * typed as SQL, then the merged table aggregates per segment. The
    * oracle replays the clause algebra relationally; SqlMergeSpec pins
    * that the write took the partition-scoped copy-on-write path
    * (quiet segments keep their inodes). All balances are e2 integers
    * so the hash is exact. */
  private val k13SqlMerge: Q = (s, d) => {
    val path = statePath("k13_customer_sqlmerged")
    val customer = Tables.customer(s, d)
    val e2 = "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"
    // seed by hard-link clone of a memoized snapshot (r21 — the same
    // r18 fixed-cost trim k14/k16 ride): identical content and read-back
    // schema to the former inline CTAS, zero data write per run; the
    // statement under test is the MERGE below, and partitioned-CTAS
    // coverage lives in k15/k18/k20
    TableMerge.cloneTable(customerSeed(s, d), path)
    customer.filter(col("c_custkey") % 4 === 0)
      .selectExpr("c_custkey", "c_mktsegment AS seg",
        s"CASE WHEN c_custkey % 8 = 0 THEN CAST(-1 AS BIGINT) " +
          s"ELSE $e2 + 10000 END AS nv")
      .unionByName(customer.filter(col("c_custkey") % 7 === 0)
        .selectExpr("c_custkey + 1000000 AS c_custkey", "'GRAFTSEG' AS seg",
          "CAST(c_custkey AS BIGINT) * 100 AS nv"))
      .createOrReplaceTempView("k13_updates")
    s.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING k13_updates AS s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED AND s.nv < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET bal_e2 = s.nv
         |WHEN NOT MATCHED THEN INSERT (c_custkey, c_mktsegment, bal_e2)
         |  VALUES (s.c_custkey, s.seg, s.nv)""".stripMargin)
    TableMerge.read(s, path)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("bal_e2").as("sum_bal_e2"),
        sum("c_custkey").as("key_sum"))
      .orderBy("c_mktsegment")
  }

  /** Collision-proof path key for a corpus dir: SHA-256 prefix, not
    * String.hashCode — ScaleBench drives several corpus dirs in one
    * process, and a 32-bit collision would clone the wrong corpus into
    * k14/k16/k17 (ADVICE r18). */
  private def dirKey(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Segment-partitioned customer seed for k13; same
    * memoize-once-clone-per-run trick as [[ordersSeed]]. */
  private def customerSeed(s: SparkSession, d: String): String =
    PipelineShared.memo(s, "cdc_seed|cust|" + d) {
      val path = statePath(s"seed_customer_e2_${dirKey(d)}")
      TableMerge.drop(path, ifExists = true)
      TableMerge.createOrReplace(
        Tables.customer(s, d).selectExpr("c_custkey",
          "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_e2",
          "c_mktsegment"),
        path, partitionCols = Seq("c_mktsegment"))
      path
    }

  /** Session-memoized full-orders seed snapshot — (o_orderkey,
    * price_e2, o_orderstatus) partitioned by status. k14 and k16 need
    * the IDENTICAL starting table; materializing it once per session
    * ([[PipelineShared.memo]]) and hard-link-cloning it into each
    * query's own path ([[TableMerge.cloneTable]]) replaces two full
    * partitioned CTAS writes per battery run with one write + two
    * O(files) link trees (VERDICT r17 #8 — the battery's fixed-cost
    * tail was versioned-commit fixture I/O, not query work). Keyed per
    * sf dir: ScaleBench drives the same process at several corpus dirs.
    * The seed builds write a fixed path, so they assume registry
    * queries of one session run one at a time (every caller does). */
  private def ordersSeed(s: SparkSession, d: String): String =
    PipelineShared.memo(s, "cdc_seed|orders|" + d) {
      val path = statePath(s"seed_orders_e2_${dirKey(d)}")
      TableMerge.drop(path, ifExists = true)
      TableMerge.createOrReplace(
        Tables.orders(s, d).selectExpr("o_orderkey",
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2",
          "o_orderstatus"),
        path, partitionCols = Seq("o_orderstatus"))
      path
    }

  /** Even-keyed orders seed for k17 (its restore/vacuum chain starts
    * from the evens snapshot); same memoize-once-clone-per-run trick. */
  private def ordersEvenSeed(s: SparkSession, d: String): String =
    PipelineShared.memo(s, "cdc_seed|even|" + d) {
      val path = statePath(s"seed_orders_even_${dirKey(d)}")
      TableMerge.drop(path, ifExists = true)
      TableMerge.createOrReplace(
        Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
          .selectExpr("o_orderkey",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2",
            "o_orderstatus"),
        path, partitionCols = Seq("o_orderstatus"))
      path
    }

  /** K14 — the rest of the SQL DML surface under the oracle gate
    * (`k13_sql_merge` covers MERGE): an orders snapshot partitioned by
    * status absorbs, IN ORDER, an `INSERT INTO … SELECT` (partition-
    * scoped append), an `UPDATE … WHERE` (scoped CoW rewrite of touched
    * partitions), and a `DELETE … WHERE` — all typed as SQL statements
    * against `graft.`path``; the oracle replays the three statements'
    * algebra in sequence, so a clause mis-executing or applying out of
    * order flips the hash. */
  private val k14SqlDml: Q = (s, d) => {
    val path = statePath("k14_orders_sqldml")
    val orders = Tables.orders(s, d)
    // hard-link clone of the shared seed snapshot — identical content
    // and read-back schema to the pre-r18 inline CTAS, zero data write
    TableMerge.cloneTable(ordersSeed(s, d), path)
    orders.filter(col("o_orderkey") % 11 === 0)
      // positional order = the table's read-back schema (partition col last)
      .selectExpr("o_orderkey + 10000000 AS o_orderkey",
        "CAST(o_orderkey * 10 AS BIGINT) AS price_e2", "'Z' AS o_orderstatus")
      .createOrReplaceTempView("k14_new_orders")
    s.sql(s"INSERT INTO graft.`$path` SELECT * FROM k14_new_orders")
    s.sql(s"UPDATE graft.`$path` SET price_e2 = price_e2 + 500 WHERE o_orderkey % 3 = 0")
    s.sql(s"DELETE FROM graft.`$path` WHERE o_orderkey % 10 = 7")
    TableMerge.read(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("price_e2").as("sum_price_e2"),
        sum("o_orderkey").as("key_sum"))
      .orderBy("o_orderstatus")
  }

  /** K15 — the reference's schema-bootstrap DDL statements typed as
    * SQL against `graft.`path`` (`create_schema.py:237-358`'s
    * `CREATE TABLE … PARTITIONED BY`; `transformer.py:2421-2425`'s
    * `ALTER TABLE … ADD COLUMN`), end-to-end under the oracle hash:
    * partitioned CREATE of an EMPTY table (schema and partition
    * columns persisted in the snapshot record), INSERT of a seed snapshot, METADATA-ONLY
    * `ADD COLUMNS` (zero data files rewritten — SqlMergeSpec pins the
    * inodes), a second INSERT carrying the evolved columns, and a
    * read-back aggregation in which the pre-evolution rows' NULLs and
    * the post-evolution rows' values are both visible — a mis-executed
    * create, a rewriting ALTER, or a misaligned positional INSERT all
    * flip the hash. */
  private val k15SqlDdl: Q = (s, d) => {
    val path = statePath("k15_customer_ddl")
    TableMerge.drop(path, ifExists = true)
    s.sql(s"CREATE TABLE graft.`$path` (c_custkey BIGINT, bal_e2 BIGINT, " +
      "c_mktsegment STRING) PARTITIONED BY (c_mktsegment)")
    val e2 = "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"
    Tables.customer(s, d).filter(col("c_custkey") % 2 === 0)
      .selectExpr("c_custkey", s"$e2 AS bal_e2", "c_mktsegment")
      .createOrReplaceTempView("k15_seed")
    s.sql(s"INSERT INTO graft.`$path` SELECT * FROM k15_seed")
    s.sql(s"ALTER TABLE graft.`$path` ADD COLUMNS (quality BIGINT, lang STRING)")
    Tables.customer(s, d).filter(col("c_custkey") % 2 =!= 0)
      .selectExpr("c_custkey", s"$e2 AS bal_e2",
        "CAST(c_custkey % 5 AS BIGINT) AS quality",
        "CASE WHEN c_custkey % 3 = 0 THEN 'en' ELSE 'vi' END AS lang",
        "c_mktsegment")
      .createOrReplaceTempView("k15_evolved")
    s.sql(s"INSERT INTO graft.`$path` SELECT * FROM k15_evolved")
    s.sql(
      s"""SELECT c_mktsegment, count(*) AS n, sum(bal_e2) AS sum_bal_e2,
         |  sum(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS n_pre_evolution,
         |  coalesce(sum(quality), 0) AS quality_sum,
         |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en
         |FROM graft.`$path`
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  /** K16 — NAMED-catalog addressing (`silver/transformer.py:1339`,
    * `gold_analytics.py:191` address tables as `catalog.db.table`):
    * the statement chain runs through the registered name
    * `graft.silver.k16_orders` — MERGE INTO with update + insert
    * clauses and the read-back SELECT — with
    * [[graft.plans.SqlMerge.GraftCatalog]] mapping the name to a state
    * path (the metastore name→location mapping). The seed snapshot
    * arrives by [[TableMerge.cloneTable]] from the shared orders seed
    * (r18 fixed-cost trim; CTAS-through-a-name coverage lives in
    * SqlMergeSpec). The oracle replays the merge algebra; a broken
    * name resolution fails the statements outright. */
  private val k16SqlCatalog: Q = (s, d) => {
    val path = statePath("k16_orders_named")
    graft.plans.SqlMerge.GraftCatalog.register("silver", "k16_orders", path)
    val e2 = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    // seed by hard-link clone (r18; CREATE OR REPLACE … AS through a
    // NAME stays covered by SqlMergeSpec's named-catalog case) — the
    // statements under test here are the name-addressed MERGE + SELECT
    TableMerge.cloneTable(ordersSeed(s, d), path)
    Tables.orders(s, d).filter(col("o_orderkey") % 5 === 0)
      .selectExpr("o_orderkey", s"$e2 + 10000 AS nv")
      .unionByName(Tables.orders(s, d).filter(col("o_orderkey") % 13 === 0)
        .selectExpr("o_orderkey + 20000000 AS o_orderkey",
          "CAST(o_orderkey * 7 AS BIGINT) AS nv"))
      .createOrReplaceTempView("k16_updates")
    s.sql(
      """MERGE INTO graft.silver.k16_orders AS t
        |USING k16_updates AS s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET price_e2 = s.nv
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, price_e2, o_orderstatus)
        |  VALUES (s.o_orderkey, s.nv, 'N')""".stripMargin)
    s.sql(
      """SELECT o_orderstatus, count(*) AS n, sum(price_e2) AS sum_price_e2,
        |  sum(o_orderkey) AS key_sum
        |FROM graft.silver.k16_orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** K1 partition-scoped — merge keyed by (partition col, id): only
    * touched `source` partitions are rewritten; untouched partition
    * directories are carried over as files (SURVEY §7.3 "MERGE
    * atomicity"). Oracle recomputes the same state relationally. */
  private val k3PartitionedMerge: Q = (s, d) => {
    val path = statePath("k3_events_partitioned")
    val events = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("user_id"),
        round(col("value"), 2).as("value_r"))
    TableMerge.createOrReplace(events, path, partitionCols = Seq("event_type"))
    // Source touches only the 'click' partition: value zeroed for user 1.
    val source = events.filter(col("event_type") === "click" && col("user_id") === 1)
      .withColumn("value_r", lit(0.0))
    TableMerge.upsert(s, path, source, Seq("event_type", "event_id"),
      partitionCols = Seq("event_type"))
    TableMerge.read(s, path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value_r"), 2).as("total_value"))
      .orderBy("event_type")
  }

  /** K9 — TIME TRAVEL over committed snapshots (the Iceberg
    * snapshot-read analogue TableMerge provides): create v1, upsert a
    * zeroing source on top, then read BOTH the live table and the
    * retained v1 snapshot and aggregate each under a label. The oracle
    * recomputes both states relationally, so the versioned-pointer
    * machinery (immutable version dirs, retention of the merge base)
    * is itself under the hash gate — a wrong retained snapshot or a
    * pointer mixup changes the 'past' rows. State is wiped per run:
    * the PAST version is addressed positionally (the non-live committed
    * version), which is only deterministic from a fresh table. */
  private val k9TimeTravel: Q = (s, d) => {
    val path = wipedStatePath("k9_time_travel")
    val v1 = Tables.customer(s, d).filter(col("c_custkey") % 2 === 0)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    TableMerge.createOrReplace(v1, path)
    val v1Name = TableMerge.versions(path).head
    val source = Tables.customer(s, d).filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        lit(0.0).as("c_acctbal"))
    TableMerge.upsert(s, path, source, keys = Seq("c_custkey"))
    def snap(df: DataFrame, label: String): DataFrame = df
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")).as("sum_bal_e2"))
      .withColumn("snapshot", lit(label))
    // the SAME retained snapshot through the SQL literal (`@v-…` pins
    // a version — the SELECT-level time-travel surface, r20/VERDICT
    // r19 #5): both addressing paths must agree under one oracle hash
    val pastSql = s.sql(s"SELECT * FROM graft.`$path@$v1Name`")
    snap(TableMerge.readVersion(s, path, v1Name), "past")
      .unionByName(snap(pastSql, "past_sql"))
      .unionByName(snap(TableMerge.read(s, path), "live"))
      .select("snapshot", "c_mktsegment", "n", "sum_bal_e2")
      .orderBy("snapshot", "c_mktsegment")
  }

  /** I8 — incremental MATERIALIZED-VIEW maintenance (classic delta
    * view maintenance; the reference's nightly gold rebuilds re-read
    * the full silver table — this is the at-scale alternative): a
    * persisted per-segment aggregate is maintained by aggregating ONLY
    * the arriving delta and merging partials into the stored view
    * (`new = old ⊎ delta` per key — count and sum are commutative
    * monoids, so partial-merge is exact). Cost per refresh is
    * O(|delta|) + an upsert touching only segments the delta hits,
    * vs O(|table|) for a recompute — the difference between minutes
    * and seconds at 100 TB fact volume. The oracle IS the full
    * recompute over both batches: incremental maintenance must be
    * indistinguishable from it. State wiped per run. */
  private val i8MatviewDelta: Q = (s, d) => {
    val path = wipedStatePath("i8_matview_delta")
    val cust = Tables.customer(s, d).select(col("c_mktsegment"), col("c_custkey"),
      expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("bal_e2"))
    def partial(df: DataFrame): DataFrame = df.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("bal_e2").as("sum_bal_e2"))
    TableMerge.createOrReplace(partial(cust.filter(col("c_custkey") % 3 === 0)), path)
    val delta = partial(cust.filter(col("c_custkey") % 3 === 1))
    val updated = delta.alias("dl")
      .join(TableMerge.read(s, path).alias("cur"), Seq("c_mktsegment"), "left")
      .select(col("c_mktsegment"),
        (col("dl.n") + coalesce(col("cur.n"), lit(0L))).as("n"),
        (col("dl.sum_bal_e2") + coalesce(col("cur.sum_bal_e2"), lit(0L))).as("sum_bal_e2"))
    TableMerge.upsert(s, path, updated, Seq("c_mktsegment"))
    TableMerge.read(s, path).orderBy("c_mktsegment")
  }

  /** K10 — retention VACUUM (the Iceberg `expire_snapshots` / Delta
    * VACUUM analogue, closing the snapshot lifecycle k9 opens): three
    * commits build version history (replace → upsert → delete), then
    * `expireVersions(olderThanMs = 0)` drops every non-live snapshot
    * under the commit lock. The output pins BOTH halves: the version
    * accounting (3 committed before, exactly 2 expired, 1 retained —
    * wrong GC arithmetic flips the constants) and the post-vacuum
    * table content (vacuum must be semantics-free on the live view;
    * the oracle recomputes replace∘upsert∘delete relationally). The
    * live-survives guarantee is load-bearing: expire runs by pointer,
    * not mtime order, so a clock skew can never GC the current
    * snapshot. TableMergeSpec covers the racier halves (in-flight
    * staging dirs survive expire; expired versions refuse time
    * travel). State is wiped per run so the version count is
    * deterministic. */
  private val k10Vacuum: Q = (s, d) => {
    val path = statePath("k10_vacuum")
    // v1 seeds by hard-link clone of a memoized snapshot (r21, the r18
    // trick): the ops under test are the upsert/delete/expire chain
    // below, and the clone carries exactly one version — so the pinned
    // versions_before/n_expired/versions_after arithmetic is unchanged
    val seed = PipelineShared.memo(s, "cdc_seed|k10|" + d) {
      val sp = statePath(s"seed_k10_even_${dirKey(d)}")
      TableMerge.drop(sp, ifExists = true)
      TableMerge.createOrReplace(
        Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("price_e2")),
        sp)
      sp
    }
    TableMerge.cloneTable(seed, path)
    val uplift = Tables.orders(s, d).filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit("V").as("o_orderstatus"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 5000").as("price_e2"))
    TableMerge.upsert(s, path, uplift, Seq("o_orderkey"))
    TableMerge.delete(s, path,
      Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0).select("o_orderkey"),
      Seq("o_orderkey"))
    val before = TableMerge.versions(path).size
    val expired = TableMerge.expireVersions(path, olderThanMs = 0L)
    val after = TableMerge.versions(path).size
    TableMerge.read(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("price_e2").as("sum_price_e2"))
      .withColumn("versions_before", lit(before.toLong))
      .withColumn("n_expired", lit(expired.toLong))
      .withColumn("versions_after", lit(after.toLong))
      .orderBy("o_orderstatus")
  }

  /** I9 — SCD TYPE-2 dimension history (Kimball slowly-changing
    * dimension, the lakehouse-standard way to keep attribute history
    * a point-in-time join can read): the dimension table is keyed
    * (c_custkey, valid_from); applying a day's feed means, per key,
    * (a) NEW keys insert an open row, (b) CHANGED keys close the
    * current row in place (valid_to = effective date, is_current =
    * false) and insert a new open row, (c) unchanged keys are not
    * touched. Both halves land in ONE TableMerge upsert — the closed
    * row overwrites at its original (key, valid_from) and the new row
    * inserts at (key, eff) — so the apply is a single copy-on-write
    * commit, O(|changed| + |new|) source rows regardless of dimension
    * size. Change detection is a real attribute compare against the
    * current dimension (not a hardcoded key list). Fixture: initial
    * dim omits keys %7==3 (the "new" arrivals); the feed uplifts
    * acctbal for %4==1 (the "changed" set). The oracle recomputes the
    * full post-apply history relationally; grouping by (is_current,
    * valid_from) pins the effective-dating itself. State wiped per
    * run. */
  private val i9Scd2History: Q = (s, d) => {
    val path = wipedStatePath("i9_scd2_history")
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("bal_e2"))
    // v1 dimension: everything but the %7==3 keys, open since 2024-01-01
    val dim0 = cust.filter(col("c_custkey") % 7 =!= 3)
      .withColumn("valid_from", lit("2024-01-01"))
      .withColumn("valid_to", lit(null).cast("string"))
      .withColumn("is_current", lit(true))
    TableMerge.createOrReplace(dim0, path)
    // day-2 feed: full snapshot; %4==1 rows carry an uplifted balance
    val eff = "2024-02-01"
    val feed = cust.withColumn("bal_e2",
      col("bal_e2") + when(col("c_custkey") % 4 === 1, 50000L).otherwise(0L))
    val current = TableMerge.read(s, path).filter(col("is_current"))
    val joined = feed.alias("f").join(current.alias("c"), Seq("c_custkey"), "left")
    val newRows = joined.filter(col("c.valid_from").isNull)
      .select(col("c_custkey"), col("f.c_mktsegment"), col("f.bal_e2"),
        lit(eff).as("valid_from"), lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
    val changed = joined.filter(col("c.valid_from").isNotNull &&
      (col("f.bal_e2") =!= col("c.bal_e2") || col("f.c_mktsegment") =!= col("c.c_mktsegment")))
    val closedRows = changed.select(col("c_custkey"), col("c.c_mktsegment").as("c_mktsegment"),
      col("c.bal_e2").as("bal_e2"), col("c.valid_from").as("valid_from"),
      lit(eff).as("valid_to"), lit(false).as("is_current"))
    val openRows = changed.select(col("c_custkey"), col("f.c_mktsegment").as("c_mktsegment"),
      col("f.bal_e2").as("bal_e2"), lit(eff).as("valid_from"),
      lit(null).cast("string").as("valid_to"), lit(true).as("is_current"))
    TableMerge.upsert(s, path, newRows.unionByName(closedRows).unionByName(openRows),
      Seq("c_custkey", "valid_from"))
    TableMerge.read(s, path)
      .groupBy("is_current", "valid_from")
      .agg(count(lit(1)).as("n"), countDistinct("c_custkey").as("n_keys"),
        sum("bal_e2").as("sum_bal_e2"),
        sum(when(col("valid_to").isNull, 0).otherwise(1)).as("n_closed"))
      .orderBy("is_current", "valid_from")
  }

  /** J21 — POINT-IN-TIME join over the SCD2 history: the consumer side
    * of `i9_scd2_history` — facts carrying an as-of date join the
    * dimension version VALID at that date (valid_from <= date <
    * valid_to, open-ended rows unbounded). The at-scale shape is an
    * EQUI-join on the dimension key with the validity range as a
    * residual filter: per-key version counts are small (a dimension
    * row changes a handful of times), so candidates per fact row are
    * bounded by history depth — no binning needed, unlike the
    * event-time range join (J17) where both sides are dense in time.
    * History is derived inline from the same fixture formulas i9 pins
    * (balance uplift for %4==1 effective 2024-02-01); probe dates
    * alternate around the change date, so facts on the SAME key hit
    * DIFFERENT versions. The n_matched == n_facts guard (every fact
    * matches exactly one version — the SCD2 no-gap/no-overlap
    * invariant) rides in the output. */
  private val j21PitJoin: Q = (s, d) => {
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("bal_e2"))
    val unchanged = cust.filter(col("c_custkey") % 4 =!= 1)
      .select(col("c_custkey"), col("bal_e2"),
        lit("2024-01-01").as("valid_from"), lit(null).cast("string").as("valid_to"))
    val closed = cust.filter(col("c_custkey") % 4 === 1)
      .select(col("c_custkey"), col("bal_e2"),
        lit("2024-01-01").as("valid_from"), lit("2024-02-01").as("valid_to"))
    val reopened = cust.filter(col("c_custkey") % 4 === 1)
      .select(col("c_custkey"), (col("bal_e2") + 50000L).as("bal_e2"),
        lit("2024-02-01").as("valid_from"), lit(null).cast("string").as("valid_to"))
    val dim = unchanged.unionByName(closed).unionByName(reopened)
    val facts = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      when(col("o_orderkey") % 2 === 0, lit("2024-01-15"))
        .otherwise(lit("2024-02-15")).as("as_of"))
    facts.join(dim, col("o_custkey") === col("c_custkey") &&
        col("valid_from") <= col("as_of") &&
        (col("valid_to").isNull || col("as_of") < col("valid_to")), "left")
      .groupBy("as_of")
      .agg(count(lit(1)).as("n_facts"),
        count(col("c_custkey")).as("n_matched"),
        sum("bal_e2").as("sum_bal_e2"))
      .orderBy("as_of")
  }

  /** K11 — CHANGE DATA FEED between table versions (the Delta CDF /
    * Iceberg changelog read downstream incremental consumers subscribe
    * to — i8's matview delta is exactly such a consumer): v1 is
    * committed, then an upsert and a delete advance the table to v3;
    * the feed is derived by a full-outer key join of the retained v1
    * snapshot against the live table, classifying every key as
    * insert / delete / update / unchanged with pre- and post-image
    * sums per class. Deriving the feed from SNAPSHOTS means any table
    * format with time travel can serve it without row-level change
    * logging; at scale the join is two scans + one shuffle on the
    * key, and partition-scoped tables prune it to touched partitions.
    * The oracle recomputes both versions relationally and diffs them
    * the same way. State wiped per run. */
  private val k11ChangeFeed: Q = (s, d) => {
    val path = statePath("k11_change_feed")
    val orders = Tables.orders(s, d).select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("price_e2"))
    // v1 seeds by hard-link clone (r21, the r18 trick); the feed diff's
    // time-travel baseline is the clone's single retained version
    val seed = PipelineShared.memo(s, "cdc_seed|k11|" + d) {
      val sp = statePath(s"seed_k11_even_${dirKey(d)}")
      TableMerge.drop(sp, ifExists = true)
      TableMerge.createOrReplace(
        orders.filter(col("o_orderkey") % 2 === 0), sp)
      sp
    }
    TableMerge.cloneTable(seed, path)
    val v1Name = TableMerge.versions(path).head
    TableMerge.upsert(s, path,
      orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("price_e2", col("price_e2") + 10000L),
      Seq("o_orderkey"))
    TableMerge.delete(s, path,
      orders.filter(col("o_orderkey") % 10 === 4).select("o_orderkey"),
      Seq("o_orderkey"))
    val pre = TableMerge.readVersion(s, path, v1Name)
      .select(col("o_orderkey"), col("price_e2").as("pre_e2"))
    val post = TableMerge.read(s, path)
      .select(col("o_orderkey"), col("price_e2").as("post_e2"))
    pre.join(post, Seq("o_orderkey"), "full_outer")
      .withColumn("op",
        when(col("pre_e2").isNull, lit("insert"))
          .when(col("post_e2").isNull, lit("delete"))
          .when(col("pre_e2") =!= col("post_e2"), lit("update"))
          .otherwise(lit("unchanged")))
      .groupBy("op")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("pre_e2"), lit(0L))).as("sum_pre_e2"),
        sum(coalesce(col("post_e2"), lit(0L))).as("sum_post_e2"))
      .orderBy("op")
  }

  /** K12 — PARTITION OVERWRITE (`INSERT OVERWRITE PARTITION` /
    * dynamic-partition-overwrite, the backfill/restatement op K1's
    * keyed upsert cannot express: the restated partition's old rows
    * must vanish EVEN IF the source carries no row for their keys —
    * replacement is by PARTITION membership, not by key): rewrite the
    * 'click' partition with a restated subset (even users only, values
    * doubled) via `replaceKeys` with dropGroups = the partition value,
    * which takes TableMerge's partition-scoped path — only the click
    * directory is rewritten, every other partition hard-links
    * (TableMergeSpec pins the inode claim). The disappeared-keys
    * half is what the oracle pins: a keyed merge would leave odd
    * users' click rows alive and break the hash. State wiped per
    * run. */
  /** Type-partitioned events seed for k12; the same memoize-once-
    * clone-per-run trick as [[ordersSeed]] (r21) — the op under test is
    * the partition overwrite below, and partitioned-CTAS coverage lives
    * in k15/k18/k20. */
  private def eventsSeed(s: SparkSession, d: String): String =
    PipelineShared.memo(s, "cdc_seed|events|" + d) {
      val path = statePath(s"seed_events_e2_${dirKey(d)}")
      TableMerge.drop(path, ifExists = true)
      TableMerge.createOrReplace(
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("user_id"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("value_e2")),
        path, partitionCols = Seq("event_type"))
      path
    }

  private val k12PartitionOverwrite: Q = (s, d) => {
    val path = statePath("k12_partition_overwrite")
    val events = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("user_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("value_e2"))
    TableMerge.cloneTable(eventsSeed(s, d), path)
    val restated = events
      .filter(col("event_type") === "click" && col("user_id") % 2 === 0)
      .withColumn("value_e2", col("value_e2") * 2)
    TableMerge.replaceKeys(s, path, restated,
      dropGroups = restated.select("event_type"),
      groupKeys = Seq("event_type"), partitionCols = Seq("event_type"))
    TableMerge.read(s, path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_e2").as("sum_value_e2"))
      .orderBy("event_type")
  }

  /** K17 — SQL MAINTENANCE statements (the Delta OPTIMIZE / VACUUM /
    * RESTORE / DESCRIBE HISTORY surface the reference's ops runbooks
    * assume of an Iceberg-style table): the whole lifecycle runs as
    * literal statements through [[graft.plans.SqlMerge.GraftSqlParser]].
    * Chain: even-orders v1 (hard-link clone of the memoized seed
    * since r18; CTAS coverage lives in k15/k18/k20) →
    * INSERT odd keys (v2) → DELETE %7 (v3) →
    * DESCRIBE HISTORY (3 rows) → RESTORE TABLE … TO VERSION AS OF v1
    * (v4, content == v1, history moves FORWARD) → VACUUM RETAIN 0 HOURS
    * (expires v1-v3; live v4 survives) → DESCRIBE HISTORY (1 row) →
    * OPTIMIZE → OPTIMIZE … ZORDER BY (compaction + re-clustering
    * commits; content invariant — their file-layout effects are pinned
    * by SqlMergeSpec, not the oracle, because parquet file counts are
    * task-layout-dependent). The oracle replays the
    * content algebra (restore discards the INSERT and DELETE) and pins
    * the four deterministic lifecycle integers. */
  private val k17SqlMaintenance: Q = (s, d) => {
    val path = statePath("k17_sql_maint")
    val e2 = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    // v1 seeds by hard-link clone of a memoized even-orders snapshot
    // (r18 fixed-cost trim; the chain's tested surface is the
    // maintenance verbs below — CTAS stays covered by k15/k18/k20)
    TableMerge.cloneTable(ordersEvenSeed(s, d), path)
    Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
      .selectExpr("o_orderkey", s"$e2 AS price_e2", "o_orderstatus")
      .createOrReplaceTempView("k17_more")
    s.sql(s"INSERT INTO graft.`$path` SELECT * FROM k17_more")
    s.sql(s"DELETE FROM graft.`$path` WHERE o_orderkey % 7 = 0")
    val histBefore = s.sql(s"DESCRIBE HISTORY graft.`$path`").count()
    val v1 = TableMerge.versions(path).last
    s.sql(s"RESTORE TABLE graft.`$path` TO VERSION AS OF '$v1'")
    val restoredOk =
      if (TableMerge.commitMeta(path).get("restoredFrom").contains(v1)) 1L else 0L
    val expired = s.sql(s"VACUUM graft.`$path` RETAIN 0 HOURS").head().getLong(0)
    val histAfter = s.sql(s"DESCRIBE HISTORY graft.`$path`").count()
    s.sql(s"OPTIMIZE graft.`$path`")
    s.sql(s"OPTIMIZE graft.`$path` ZORDER BY (o_orderkey, price_e2)")
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n, sum(price_e2) AS sum_price_e2
         |FROM graft.`$path` GROUP BY o_orderstatus""".stripMargin)
      .withColumn("hist_before", lit(histBefore))
      .withColumn("restored_ok", lit(restoredOk))
      .withColumn("n_expired", lit(expired))
      .withColumn("hist_after", lit(histAfter))
      .orderBy("o_orderstatus")
  }

  /** K18 — Z-ORDER + FILE-SKIPPING read path: the lifecycle that
    * monetizes `OPTIMIZE … ZORDER BY`. CTAS partitions events by type;
    * the ZORDER statement rewrites each partition as contiguous
    * z-slices of (user_id, value_e2) and records per-file range stats
    * in the version's stats ledger; a selective user_id range is then
    * answered through BOTH skipping forms — the automatic stats-aware
    * FileIndex behind a plain `read().filter` and the explicit
    * `TableMerge.readSkipping` — each dropping provably-missing files
    * BEFORE any parquet footer is opened, and both branches must agree
    * exactly under the hash. The oracle replays the
    * plain filtered aggregate — a readSkipping that wrongly drops (or
    * keeps a stale range for) even one file breaks the hash. The
    * PHYSICAL claim (fewer files actually scanned) is pinned by
    * SqlMergeSpec on a fixed-file-count fixture, because file counts
    * are task-layout-dependent. */
  private val k18ZorderRead: Q = (s, d) => {
    val path = statePath("k18_zorder_read")
    TableMerge.drop(path, ifExists = true)
    Tables.events(s, d)
      .selectExpr("event_id", "user_id", "event_type",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_e2")
      .createOrReplaceTempView("k18_events")
    s.sql(s"CREATE TABLE graft.`$path` PARTITIONED BY (event_type) " +
      "AS SELECT * FROM k18_events")
    s.sql(s"OPTIMIZE graft.`$path` ZORDER BY (user_id, value_e2)")
    // the AUTOMATIC pruning path: a plain filtered read over the
    // z-ordered table goes through the stats-aware FileIndex (read()
    // detects the ledger), so the file-skipping scan itself sits
    // under the oracle hash at every sf and in all three sweeps;
    // readSkipping is the explicit twin, union'd as a cross-check —
    // both branches must agree exactly for the hash to survive
    val auto = TableMerge.read(s, path)
      .filter(col("user_id").between(100L, 400L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_e2").as("sum_value_e2"),
        sum("user_id").as("user_sum"))
    val explicit = TableMerge.readSkipping(s, path, "user_id", 100L, 400L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_e2").as("sum_value_e2"),
        sum("user_id").as("user_sum"))
    auto.withColumn("via", lit("auto"))
      .unionByName(explicit.withColumn("via", lit("explicit")))
      .orderBy("via", "event_type")
  }

  /** K19 — CATALOG INTROSPECTION statements (VERDICT r17 #4; the
    * reference verifies its schema bootstrap with `SHOW DATABASES IN
    * <catalog>` / `SHOW TABLES IN <catalog>.<db>`,
    * `create_schema.py:428-441`): two tables register under
    * `graft.k19db`, a partitioned CREATE and a flat CREATE run through
    * the names, then the three introspection statements read the
    * catalog back — databases, tables, and DESCRIBE TABLE's
    * column/partition report — into one deterministic frame the
    * DuckDB oracle pins as literals. A broken enumeration, a missing
    * registration, or a DESCRIBE that loses the read-back column
    * order flips the hash. */
  private val k19SqlShow: Q = (s, d) => {
    val p1 = statePath("k19_show_t1")
    val p2 = statePath("k19_show_t2")
    graft.plans.SqlMerge.GraftCatalog.register("k19db", "t1", p1)
    graft.plans.SqlMerge.GraftCatalog.register("k19db", "t2", p2)
    TableMerge.drop(p1, ifExists = true)
    TableMerge.drop(p2, ifExists = true)
    s.sql("CREATE TABLE graft.k19db.t1 (id BIGINT, bal_e2 BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    s.sql("CREATE TABLE graft.k19db.t2 (k BIGINT, v STRING)")
    // seed two partitions so SHOW PARTITIONS (r19) has live dirs to
    // enumerate — from the manifest, zero directory listing
    s.sql("INSERT INTO graft.k19db.t1 VALUES (1, 100, 'A'), (2, 200, 'B'), (3, 300, 'A')")
    val dbs = s.sql("SHOW DATABASES IN graft")
      .filter(col("namespace") === "k19db")
      .select(col("namespace").as("name"), lit("db").as("kind"),
        lit("").as("detail"))
    val tbls = s.sql("SHOW TABLES IN graft.k19db")
      .select(col("tableName").as("name"), lit("table").as("kind"),
        col("namespace").as("detail"))
    val desc = s.sql("DESCRIBE TABLE graft.k19db.t1")
      .select(col("col_name").as("name"), lit("column").as("kind"),
        col("data_type").as("detail"))
    val parts = s.sql("SHOW PARTITIONS graft.k19db.t1")
      .select(col("partition").as("name"), lit("partition").as("kind"),
        lit("t1").as("detail"))
    dbs.unionByName(tbls).unionByName(desc).unionByName(parts)
      .orderBy("kind", "name", "detail")
  }

  /** K20 — FILE SKIPPING SURVIVES THE LIVE MERGE CYCLE (VERDICT r17
    * #1, the k18 successor): CTAS partitions events by type; ZORDER
    * records per-file (user_id, value_e2) ranges AND declares them as
    * the table's stat columns; a day-2 MERGE then restates a slice of
    * the `click` partition — r18's write-path stats maintenance must
    * re-record fresh ranges for the rewritten partition while the
    * untouched partitions' ranges carry verbatim, so a selective
    * user_id read AFTER the merge still skips files (Delta's
    * stats-on-every-add discipline; pre-r18 the post-merge table
    * decayed to always-scan until the next ZORDER). Both skipping
    * forms — the automatic stats-aware FileIndex behind `read()` and
    * the explicit `readSkipping` — answer the same range under one
    * hash; the oracle replays CTAS ∘ merge ∘ filter relationally. The
    * PHYSICAL claim (post-merge scans still prune) is pinned by
    * SqlMergeSpec's scan metrics, because file counts are
    * task-layout-dependent. */
  private val k20StatsMerge: Q = (s, d) => {
    val path = statePath("k20_stats_merge")
    TableMerge.drop(path, ifExists = true)
    Tables.events(s, d)
      .selectExpr("event_id", "user_id", "event_type",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_e2")
      .createOrReplaceTempView("k20_events")
    s.sql(s"CREATE TABLE graft.`$path` PARTITIONED BY (event_type) " +
      "AS SELECT * FROM k20_events")
    s.sql(s"OPTIMIZE graft.`$path` ZORDER BY (user_id, value_e2)")
    // day-2 merge: restate clicks of users 100–200 at doubled value —
    // rewrites ONLY the click partition; its files get fresh ranges
    val src = Tables.events(s, d)
      .filter(col("event_type") === "click" && col("user_id").between(100L, 200L))
      .selectExpr("event_id", "user_id", "event_type",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) * 2 AS value_e2")
    TableMerge.upsert(s, path, src, keys = Seq("event_type", "event_id"),
      partitionCols = Seq("event_type"))
    val auto = TableMerge.read(s, path)
      .filter(col("user_id").between(100L, 400L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_e2").as("sum_value_e2"),
        sum("user_id").as("user_sum"))
    val explicit = TableMerge.readSkipping(s, path, "user_id", 100L, 400L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_e2").as("sum_value_e2"),
        sum("user_id").as("user_sum"))
    auto.withColumn("via", lit("auto"))
      .unionByName(explicit.withColumn("via", lit("explicit")))
      .orderBy("via", "event_type")
  }

  /** K21 — MANIFEST-PLANNED reads through the live commit cycle
    * (VERDICT r18 #1/#2): CTAS partitions events by type (commit writes
    * the per-version file manifest), ANALYZE declares user_id stats
    * (range + null-count rows), a day-2 merge restates a slice of one
    * partition (the manifest maintains INCREMENTALLY — untouched
    * partitions' rows carry verbatim, spec-pinned by ManifestSpec), and
    * VACUUM expires the superseded snapshots. The final read plans from
    * the manifest with ZERO directory listing (stray files are
    * invisible — ManifestSpec's behavioral proof) and exercises the r19
    * pruning shapes under the oracle hash: a partition IN-list, an
    * IS NOT NULL probe, and a user_id IN membership filter whose set
    * probe must not change the answer at any layout. The lifecycle
    * integer (2 snapshots expired: CTAS and ANALYZE, superseded by the
    * merge commit) pins the retention chain. */
  private val k21ManifestRead: Q = (s, d) => {
    val path = statePath("k21_manifest_read")
    // CTAS + ANALYZE seed the lifecycle identically every run: build
    // them once per session and hard-link-clone the 2-version table
    // (manifest, stats ledger and version pointer ride the link tree),
    // so each run pays the ops under test — the day-2 merge's
    // incremental manifest/stat maintenance, VACUUM's retention (the
    // clone carries exactly the 2 superseded snapshots n_expired pins),
    // and the manifest-planned read (r21; the r18 seed-clone precedent)
    val seed = PipelineShared.memo(s, "cdc_seed|k21seed|" + d) {
      val sp = statePath(s"seed_k21_manifest_${dirKey(d)}")
      TableMerge.drop(sp, ifExists = true)
      Tables.events(s, d)
        .selectExpr("event_id", "user_id", "event_type",
          "CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_e2")
        .createOrReplaceTempView("k21_events")
      s.sql(s"CREATE TABLE graft.`$sp` PARTITIONED BY (event_type) " +
        "AS SELECT * FROM k21_events")
      s.sql(s"ANALYZE TABLE graft.`$sp` COMPUTE STATISTICS FOR COLUMNS user_id")
      sp
    }
    TableMerge.cloneTable(seed, path)
    // day-2 merge: restate clicks of users 5–10 at tripled value —
    // only the click partition rewrites; its manifest/stat rows refresh
    // (user ids stay single-digit so every sf has them: sf0.001 tops
    // out at user_id 14)
    val src = Tables.events(s, d)
      .filter(col("event_type") === "click" && col("user_id").between(5L, 10L))
      .selectExpr("event_id", "user_id", "event_type",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) * 3 AS value_e2")
    TableMerge.upsert(s, path, src, keys = Seq("event_type", "event_id"),
      partitionCols = Seq("event_type"))
    val expired = s.sql(s"VACUUM graft.`$path` RETAIN 0 HOURS").head().getLong(0)
    val ids = Seq(3L, 5L, 7L, 9L, 11L, 13L)
    TableMerge.read(s, path)
      .filter(col("event_type").isin("click", "view") &&
        col("user_id").isNotNull && col("user_id").isin(ids: _*))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_e2").as("sum_value_e2"),
        sum("user_id").as("user_sum"))
      .withColumn("n_expired", lit(expired))
      .orderBy("event_type")
  }

  /** K22 — COLUMN MAPPING end-to-end under the oracle (VERDICT r18
    * missing #3 / next-round #4, Delta column-mapping semantics): a
    * partitioned orders snapshot is RENAMEd (price_e2→amount_e2) and
    * has a column DROPped (legacy_flag) — both metadata-only commits,
    * inode-pinned by ColumnMappingSpec — then absorbs a day-2 SQL
    * INSERT typed against the POST-evolution logical schema, and the
    * final read aggregates through the logical names. Pre-evolution
    * rows must surface under the renamed column (they live in the old
    * physical column inside untouched files), the dropped column must
    * not leak, and the insert must land under the original physical
    * name — any of those failing flips the hash. */
  private val k22ColumnMapping: Q = (s, d) => {
    val path = statePath("k22_column_mapping")
    val e2 = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    // pre-evolution snapshot seeds by hard-link clone (r21, the r18
    // trick): the ops under test are the RENAME/DROP metadata commits
    // and the post-evolution INSERT + mapped read below
    val seed = PipelineShared.memo(s, "cdc_seed|k22|" + d) {
      val sp = statePath(s"seed_k22_legacy_${dirKey(d)}")
      TableMerge.drop(sp, ifExists = true)
      TableMerge.createOrReplace(
        Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
          .selectExpr("o_orderkey", s"$e2 AS price_e2",
            "CAST(o_orderkey % 7 AS BIGINT) AS legacy_flag", "o_orderstatus"),
        sp, partitionCols = Seq("o_orderstatus"))
      sp
    }
    TableMerge.cloneTable(seed, path)
    s.sql(s"ALTER TABLE graft.`$path` RENAME COLUMN price_e2 TO amount_e2")
    s.sql(s"ALTER TABLE graft.`$path` DROP COLUMN legacy_flag")
    // day-2 insert against the evolved logical schema (positional:
    // o_orderkey, amount_e2, o_orderstatus)
    Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
      .selectExpr("o_orderkey", s"$e2 + 7 AS amount_e2", "o_orderstatus")
      .createOrReplaceTempView("k22_day2")
    s.sql(s"INSERT INTO graft.`$path` SELECT * FROM k22_day2")
    TableMerge.read(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("amount_e2").as("sum_amount_e2"),
        sum("o_orderkey").as("key_sum"))
      .orderBy("o_orderstatus")
  }

  val queries: Seq[(String, Q)] = Seq(
    "i2_asset_cdc" -> i2AssetCdc,
    "k12_partition_overwrite" -> k12PartitionOverwrite,
    "i3_tombstones" -> i3Tombstones,
    "i4_state_memo" -> i4StateMemo,
    "i6_index_incremental" -> i6IndexIncremental,
    "i8_matview_delta" -> i8MatviewDelta,
    "i9_scd2_history" -> i9Scd2History,
    "j21_pit_join" -> j21PitJoin,
    "k11_change_feed" -> k11ChangeFeed,
    "k1_merge_upsert" -> k1MergeUpsert,
    "k2_merge_delete" -> k2MergeDelete,
    "k13_sql_merge" -> k13SqlMerge,
    "k14_sql_dml" -> k14SqlDml,
    "k15_sql_ddl" -> k15SqlDdl,
    "k16_sql_catalog" -> k16SqlCatalog,
    "k17_sql_maintenance" -> k17SqlMaintenance,
    "k18_zorder_read" -> k18ZorderRead,
    "k19_sql_show" -> k19SqlShow,
    "k20_stats_merge" -> k20StatsMerge,
    "k21_manifest_read" -> k21ManifestRead,
    "k22_column_mapping" -> k22ColumnMapping,
    "k3_partitioned_merge" -> k3PartitionedMerge,
    "k9_time_travel" -> k9TimeTravel,
    "k10_vacuum" -> k10Vacuum,
  )

  val oracles: Map[String, String] = Map(
    "k18_zorder_read" ->
      // semantic contract of the skipping read: identical to the plain
      // filtered aggregate at any physical layout
      """WITH ev AS (
        |  SELECT event_type, user_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_e2
        |  FROM events),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(value_e2) AS BIGINT) AS sum_value_e2,
        |    CAST(sum(user_id) AS BIGINT) AS user_sum
        |  FROM ev WHERE user_id BETWEEN 100 AND 400
        |  GROUP BY event_type)
        |SELECT event_type, n, sum_value_e2, user_sum, 'auto' AS via FROM agg
        |UNION ALL
        |SELECT event_type, n, sum_value_e2, user_sum, 'explicit' AS via FROM agg
        |ORDER BY via, event_type""".stripMargin,
    "k19_sql_show" ->
      // fully literal: the catalog state the statement chain must
      // produce — db row, both table rows, t1's columns in read-back
      // order (data cols then partition col) + the partition section
      """SELECT * FROM (VALUES
        |  ('k19db', 'db', ''),
        |  ('t1', 'table', 'k19db'),
        |  ('t2', 'table', 'k19db'),
        |  ('id', 'column', 'bigint'),
        |  ('bal_e2', 'column', 'bigint'),
        |  ('seg', 'column', 'string'),
        |  ('# Partition Information', 'column', ''),
        |  ('seg', 'column', 'string'),
        |  ('seg=A', 'partition', 't1'),
        |  ('seg=B', 'partition', 't1')
        |) AS t(name, kind, detail)
        |ORDER BY kind, name, detail""".stripMargin,
    "k22_column_mapping" ->
      // the evolution chain replayed relationally: evens carry the
      // seed's price (renamed), odds carry the day-2 insert (+7); the
      // dropped flag never appears
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 2 = 0
        |      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 7
        |    END AS amount_e2,
        |    o_orderstatus
        |  FROM orders)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(amount_e2) AS BIGINT) AS sum_amount_e2,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM base GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "k21_manifest_read" ->
      // merge algebra replayed relationally; the manifest/pruning layer
      // is semantics-free, so the filtered aggregate must match at any
      // physical layout. n_expired = 2 (CTAS + ANALYZE snapshots,
      // superseded by the merge commit, expired by VACUUM RETAIN 0)
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_e2
        |  FROM events),
        |merged AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN event_type = 'click' AND user_id BETWEEN 5 AND 10
        |      THEN value_e2 * 3 ELSE value_e2 END AS value_e2
        |  FROM ev)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value_e2) AS BIGINT) AS sum_value_e2,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum,
        |  CAST(2 AS BIGINT) AS n_expired
        |FROM merged
        |WHERE event_type IN ('click', 'view')
        |  AND user_id IS NOT NULL
        |  AND user_id IN (3, 5, 7, 9, 11, 13)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "k20_stats_merge" ->
      // the merge algebra replayed relationally, then the same filtered
      // aggregate through both skipping branches — identical at any
      // physical layout (skipping is semantics-free)
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_e2
        |  FROM events),
        |merged AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN event_type = 'click' AND user_id BETWEEN 100 AND 200
        |      THEN value_e2 * 2 ELSE value_e2 END AS value_e2
        |  FROM ev),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(value_e2) AS BIGINT) AS sum_value_e2,
        |    CAST(sum(user_id) AS BIGINT) AS user_sum
        |  FROM merged WHERE user_id BETWEEN 100 AND 400
        |  GROUP BY event_type)
        |SELECT event_type, n, sum_value_e2, user_sum, 'auto' AS via FROM agg
        |UNION ALL
        |SELECT event_type, n, sum_value_e2, user_sum, 'explicit' AS via FROM agg
        |ORDER BY via, event_type""".stripMargin,
    "k17_sql_maintenance" ->
      // content == the CTAS snapshot (restore discards the INSERT and
      // the DELETE); lifecycle integers are structural: 3 commits
      // before restore, restore meta verified, 3 snapshots expired by
      // VACUUM RETAIN 0, 1 retained after
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(price_e2) AS BIGINT) AS sum_price_e2,
        |  CAST(3 AS BIGINT) AS hist_before,
        |  CAST(1 AS BIGINT) AS restored_ok,
        |  CAST(3 AS BIGINT) AS n_expired,
        |  CAST(1 AS BIGINT) AS hist_after
        |FROM base GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "k9_time_travel" ->
      """WITH v1 AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  WHERE c_custkey % 2 = 0),
        |src AS (
        |  SELECT c_custkey, c_mktsegment, CAST(0.0 AS DOUBLE) AS c_acctbal
        |  FROM customer WHERE c_custkey % 3 = 0),
        |live AS (
        |  SELECT * FROM v1 WHERE c_custkey % 3 <> 0
        |  UNION ALL SELECT * FROM src),
        |agg AS (
        |  SELECT 'past' AS snapshot, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_bal_e2
        |  FROM v1 GROUP BY c_mktsegment
        |  UNION ALL
        |  SELECT 'past_sql' AS snapshot, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_bal_e2
        |  FROM v1 GROUP BY c_mktsegment
        |  UNION ALL
        |  SELECT 'live' AS snapshot, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_bal_e2
        |  FROM live GROUP BY c_mktsegment)
        |SELECT snapshot, c_mktsegment, n, sum_bal_e2 FROM agg
        |ORDER BY snapshot, c_mktsegment""".stripMargin,
    "i8_matview_delta" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_bal_e2
        |FROM customer WHERE c_custkey % 3 IN (0, 1)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "k10_vacuum" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |up AS (
        |  SELECT o_orderkey, 'V' AS o_orderstatus,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 5000 AS price_e2
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |merged AS (
        |  SELECT * FROM base WHERE o_orderkey % 5 <> 0
        |  UNION ALL SELECT * FROM up),
        |live AS (SELECT * FROM merged WHERE o_orderkey % 7 <> 0)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(price_e2) AS BIGINT) AS sum_price_e2,
        |  CAST(3 AS BIGINT) AS versions_before,
        |  CAST(2 AS BIGINT) AS n_expired,
        |  CAST(1 AS BIGINT) AS versions_after
        |FROM live GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "k12_partition_overwrite" ->
      // by-partition replacement: click rows for ODD users must be GONE
      """WITH ev AS (
        |  SELECT event_type, event_id, user_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_e2
        |  FROM events),
        |post AS (
        |  SELECT event_type, value_e2 FROM ev WHERE event_type <> 'click'
        |  UNION ALL
        |  SELECT event_type, value_e2 * 2 FROM ev
        |  WHERE event_type = 'click' AND user_id % 2 = 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value_e2) AS BIGINT) AS sum_value_e2
        |FROM post GROUP BY event_type ORDER BY event_type""".stripMargin,
    "j21_pit_join" ->
      """WITH cust AS (
        |  SELECT c_custkey,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_e2
        |  FROM customer),
        |dim AS (
        |  SELECT c_custkey, bal_e2, '2024-01-01' AS valid_from,
        |    CAST(NULL AS VARCHAR) AS valid_to
        |  FROM cust WHERE c_custkey % 4 <> 1
        |  UNION ALL
        |  SELECT c_custkey, bal_e2, '2024-01-01', '2024-02-01'
        |  FROM cust WHERE c_custkey % 4 = 1
        |  UNION ALL
        |  SELECT c_custkey, bal_e2 + 50000, '2024-02-01', NULL
        |  FROM cust WHERE c_custkey % 4 = 1),
        |facts AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 2 = 0 THEN '2024-01-15'
        |      ELSE '2024-02-15' END AS as_of
        |  FROM orders)
        |SELECT as_of, CAST(count(*) AS BIGINT) AS n_facts,
        |  CAST(count(d.c_custkey) AS BIGINT) AS n_matched,
        |  CAST(sum(d.bal_e2) AS BIGINT) AS sum_bal_e2
        |FROM facts f LEFT JOIN dim d
        |  ON f.o_custkey = d.c_custkey
        |  AND d.valid_from <= f.as_of
        |  AND (d.valid_to IS NULL OR f.as_of < d.valid_to)
        |GROUP BY as_of ORDER BY as_of""".stripMargin,
    "i9_scd2_history" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_e2
        |  FROM customer),
        |hist AS (
        |  SELECT c_custkey, c_mktsegment, bal_e2,
        |    '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
        |    TRUE AS is_current
        |  FROM cust WHERE c_custkey % 7 <> 3 AND c_custkey % 4 <> 1
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, bal_e2,
        |    '2024-01-01', '2024-02-01', FALSE
        |  FROM cust WHERE c_custkey % 7 <> 3 AND c_custkey % 4 = 1
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, bal_e2 + 50000,
        |    '2024-02-01', NULL, TRUE
        |  FROM cust WHERE c_custkey % 7 <> 3 AND c_custkey % 4 = 1
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment,
        |    bal_e2 + CASE WHEN c_custkey % 4 = 1 THEN 50000 ELSE 0 END,
        |    '2024-02-01', NULL, TRUE
        |  FROM cust WHERE c_custkey % 7 = 3)
        |SELECT is_current, valid_from, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_keys,
        |  CAST(sum(bal_e2) AS BIGINT) AS sum_bal_e2,
        |  CAST(sum(CASE WHEN valid_to IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_closed
        |FROM hist GROUP BY is_current, valid_from
        |ORDER BY is_current, valid_from""".stripMargin,
    "k11_change_feed" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS p
        |  FROM orders),
        |pre AS (SELECT k, p AS pre_e2 FROM o WHERE k % 2 = 0),
        |merged AS (
        |  SELECT k, p AS post_e2 FROM o WHERE k % 2 = 0 AND k % 3 <> 0
        |  UNION ALL
        |  SELECT k, p + 10000 FROM o WHERE k % 3 = 0),
        |post AS (SELECT * FROM merged WHERE k % 10 <> 4),
        |diff AS (
        |  SELECT coalesce(pre.k, post.k) AS k, pre_e2, post_e2
        |  FROM pre FULL OUTER JOIN post ON pre.k = post.k)
        |SELECT CASE WHEN pre_e2 IS NULL THEN 'insert'
        |    WHEN post_e2 IS NULL THEN 'delete'
        |    WHEN pre_e2 <> post_e2 THEN 'update' ELSE 'unchanged' END AS op,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(coalesce(pre_e2, 0)) AS BIGINT) AS sum_pre_e2,
        |  CAST(sum(coalesce(post_e2, 0)) AS BIGINT) AS sum_post_e2
        |FROM diff GROUP BY 1 ORDER BY 1""".stripMargin,
    "i2_asset_cdc" ->
      """WITH current AS (
        |  SELECT p_partkey, p_size, sha256(concat_ws('||', p_name, p_brand)) AS etag
        |  FROM part),
        |existing AS (
        |  SELECT p_partkey,
        |    p_size + CASE WHEN p_partkey % 11 = 0 THEN 1 ELSE 0 END AS ex_size,
        |    sha256(concat_ws('||', p_name, p_brand)) AS ex_etag
        |  FROM part WHERE p_partkey % 3 <> 2),
        |states AS (
        |  SELECT CASE
        |    WHEN e.ex_etag IS NULL THEN 'new'
        |    WHEN coalesce(c.p_size, -1) <> coalesce(e.ex_size, -1)
        |      OR coalesce(c.etag, '') <> coalesce(e.ex_etag, '') THEN 'changed'
        |    ELSE 'unchanged' END AS state
        |  FROM current c LEFT JOIN existing e USING (p_partkey))
        |SELECT state, CAST(count(*) AS BIGINT) AS n
        |FROM states GROUP BY state ORDER BY state""".stripMargin,
    "i3_tombstones" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_deleted
        |FROM part WHERE p_partkey % 3 = 2
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "i4_state_memo" ->
      """SELECT 'reference_v1' AS state_key, 'hash_b' AS state_hash,
        |  TRUE AS skip_rebuild""".stripMargin,
    "i6_index_incremental" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_to_index
        |FROM documents WHERE doc_id % 2 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,
    "k1_merge_upsert" ->
      """WITH source AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |    round(o_totalprice + 100.0, 2) AS price, 'merged' AS merge_note
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |target_kept AS (
        |  SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
        |    NULL AS merge_note
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0),
        |merged AS (
        |  SELECT * FROM target_kept UNION ALL SELECT * FROM source)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(price), 2) AS total_price,
        |  CAST(sum(CASE WHEN merge_note IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_noted
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "k13_sql_merge" ->
      // clause algebra replayed relationally: matched & nv<0 → deleted,
      // matched → updated, unmatched source → inserted, the rest kept
      """WITH tgt AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_e2
        |  FROM customer),
        |src AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |    CASE WHEN c_custkey % 8 = 0 THEN CAST(-1 AS BIGINT)
        |      ELSE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 10000
        |    END AS nv
        |  FROM customer WHERE c_custkey % 4 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'GRAFTSEG', CAST(c_custkey AS BIGINT) * 100
        |  FROM customer WHERE c_custkey % 7 = 0),
        |kept AS (
        |  SELECT t.c_custkey, t.c_mktsegment, t.bal_e2
        |  FROM tgt t LEFT JOIN src s ON s.c_custkey = t.c_custkey
        |  WHERE s.c_custkey IS NULL),
        |updated AS (
        |  SELECT t.c_custkey, t.c_mktsegment, s.nv AS bal_e2
        |  FROM tgt t JOIN src s ON s.c_custkey = t.c_custkey
        |  WHERE s.nv >= 0),
        |inserted AS (
        |  SELECT s.c_custkey, s.seg AS c_mktsegment, s.nv AS bal_e2
        |  FROM src s LEFT JOIN tgt t ON t.c_custkey = s.c_custkey
        |  WHERE t.c_custkey IS NULL),
        |finalrows AS (
        |  SELECT * FROM kept UNION ALL SELECT * FROM updated
        |  UNION ALL SELECT * FROM inserted)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(bal_e2) AS BIGINT) AS sum_bal_e2,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum
        |FROM finalrows GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "k14_sql_dml" ->
      // the three statements' algebra replayed in order:
      // insert, then update (applies to inserted rows too), then delete
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2
        |  FROM orders),
        |ins AS (
        |  SELECT o_orderkey + 10000000 AS o_orderkey, 'Z' AS o_orderstatus,
        |    CAST(o_orderkey * 10 AS BIGINT) AS price_e2
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM ins),
        |upd AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN price_e2 + 500 ELSE price_e2 END
        |      AS price_e2
        |  FROM allr),
        |fin AS (SELECT * FROM upd WHERE o_orderkey % 10 <> 7)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(price_e2) AS BIGINT) AS sum_price_e2,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM fin GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "k15_sql_ddl" ->
      // the DDL+DML sequence replayed relationally: seed rows carry
      // NULL in the evolved columns (they predate the ALTER), evolved
      // rows carry their inserted values
      """WITH seed AS (
        |  SELECT c_custkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_e2,
        |    c_mktsegment, CAST(NULL AS BIGINT) AS quality, CAST(NULL AS VARCHAR) AS lang
        |  FROM customer WHERE c_custkey % 2 = 0),
        |ev AS (
        |  SELECT c_custkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_e2,
        |    c_mktsegment, CAST(c_custkey % 5 AS BIGINT) AS quality,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'en' ELSE 'vi' END AS lang
        |  FROM customer WHERE c_custkey % 2 <> 0),
        |allr AS (SELECT * FROM seed UNION ALL SELECT * FROM ev)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(bal_e2) AS BIGINT) AS sum_bal_e2,
        |  CAST(sum(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pre_evolution,
        |  CAST(coalesce(sum(quality), 0) AS BIGINT) AS quality_sum,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
        |FROM allr GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "k16_sql_catalog" ->
      // the named-table merge replayed relationally: matched keys take
      // the update value, unmatched update keys insert into status 'N'
      """WITH base AS (
        |  SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |    AS price_e2, o_orderstatus
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 10000 AS nv
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, CAST(o_orderkey * 7 AS BIGINT)
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |merged AS (
        |  SELECT b.o_orderkey, coalesce(u.nv, b.price_e2) AS price_e2,
        |    b.o_orderstatus
        |  FROM base b LEFT JOIN upd u USING (o_orderkey)
        |  UNION ALL
        |  SELECT u.o_orderkey, u.nv, 'N' AS o_orderstatus
        |  FROM upd u LEFT JOIN base b USING (o_orderkey)
        |  WHERE b.o_orderkey IS NULL)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(price_e2) AS BIGINT) AS sum_price_e2,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "k2_merge_delete" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(c_acctbal), 2) AS total_bal
        |FROM customer WHERE c_custkey % 10 <> 3
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "k3_partitioned_merge" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(CASE WHEN event_type = 'click' AND user_id = 1
        |    THEN 0.0 ELSE round(value, 2) END), 2) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
