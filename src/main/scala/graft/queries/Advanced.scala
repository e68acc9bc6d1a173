package graft.queries

import graft.{Probe, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced relational operators: as-of join, pivot, subqueries,
  * percentiles — the §2.8 gap-list surface realized with Spark built-ins.
  */
object Advanced {

  /** X-ASOF — as-of join: for every purchase, the latest click by the same
    * user at-or-before the purchase time.
    *
    * Implementation is the scalable union-and-carry-forward form: tag both
    * sides, sort per user by (ts, side), and carry the last right-side row
    * forward with last(..., ignoreNulls) — ONE shuffle on user_id, no range
    * cross product, no per-row probe. This is the plan you want at 100 TB
    * (a sort-merge pass), vs. the naive range join whose candidate set
    * explodes with history length. Oracle: DuckDB's native ASOF JOIN.
    *
    * Right side is deduped to one row per (user, ts) — max event_id — so
    * as-of tie semantics are engine-independent.
    */
  private val asof = Probe(
    "x_asof_join",
    """WITH l AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'),
      |r0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      |r AS (SELECT user_id, ts, MAX(event_id) AS click_id FROM r0 GROUP BY user_id, ts)
      |SELECT l.event_id AS purchase_id, l.user_id,
      |       CAST(epoch_us(l.ts) AS BIGINT) AS purchase_us,
      |       r.click_id,
      |       CAST(epoch_us(r.ts) AS BIGINT) AS click_us
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
    val ev = Tables(s, dir, "events")
    val l = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), lit(1).as("is_l"))
    val r = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .withColumn("is_l", lit(0))
    // union with aligned schemas: (user_id, ts, is_l, event_id, click_id)
    val lu = l.select(col("user_id"), col("ts"), col("is_l"),
      col("event_id"), lit(null).cast("long").as("click_id"))
    val ru = r.select(col("user_id"), col("ts"), col("is_l"),
      lit(null).cast("long").as("event_id"), col("click_id"))
    // at equal ts the right row must sort BEFORE the left (>= is inclusive)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_l"), col("click_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lu.unionAll(ru)
      .withColumn("asof_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("asof_click_ts", last(when(col("is_l") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_l") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        col("asof_click_id").as("click_id"),
        unix_micros(col("asof_click_ts")).as("click_us"))
      .orderBy("purchase_id")
  }

  /** X-ASOF2 — the SAME as-of semantics through the custom fused operator
    * (graft.plans.AsOfJoin: logical plan → strategy → sort-merge physical
    * exec, installed by AsOf.joinBackward). No right-side pre-aggregation
    * needed: the (r_ts, click_id)-ascending sort makes the last tied row
    * the max event_id, which is exactly the oracle's dedup rule. Same
    * DuckDB ASOF oracle as x_asof_join — two implementations, one truth.
    */
  private val asof2 = Probe(
    "x_asof2_native",
    """WITH l AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'),
      |r0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      |r AS (SELECT user_id, ts, MAX(event_id) AS click_id FROM r0 GROUP BY user_id, ts)
      |SELECT l.event_id AS purchase_id, l.user_id,
      |       CAST(epoch_us(l.ts) AS BIGINT) AS purchase_us,
      |       r.click_id,
      |       CAST(epoch_us(r.ts) AS BIGINT) AS click_us
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
    val ev = Tables(s, dir, "events")
    val l = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val r = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("r_user_id"), col("event_id").as("click_id"),
        col("ts").as("r_ts"))
    graft.plans.AsOf.joinBackward(l, r,
        leftKey = "user_id", rightKey = "r_user_id",
        leftTime = "ts", rightTime = "r_ts", rightTiebreak = Seq("click_id"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        col("click_id"),
        unix_micros(col("r_ts")).as("click_us"))
      .orderBy("purchase_id")
  }

  /** P-PIVOT — pivot event_type into columns (Spark's DataFrame pivot with
    * an explicit value list = no extra distinct-values job; the oracle is
    * the equivalent conditional aggregation).
    */
  private val pivot = Probe(
    "p_pivot",
    """SELECT user_id,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click_n,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error_n,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase_n,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup_n,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view_n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(p) { (df, t) =>
      df.withColumn(s"${t}_n", coalesce(col(t), lit(0L))).drop(t)
    }.orderBy("user_id")
  }

  /** P-SUBQ — scalar subquery + correlated EXISTS through spark.sql
    * (Catalyst subquery decorrelation): customers whose account balance
    * exceeds the global average and who have at least one open order.
    */
  private val subq = Probe(
    "p_subq_scalar_exists",
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) >
      |      (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) / COUNT(*) AS DECIMAL(18,2)) FROM customer)
      |  AND EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables(s, dir, "customer").createOrReplaceTempView("subq_customer")
    Tables(s, dir, "orders").createOrReplaceTempView("subq_orders")
    // AVG over doubles: both engines sum the same values; the comparison is
    // > (not =), and c_acctbal values are far from the mean boundary — but
    // to stay deterministic under parallel summation the average is
    // computed over exact DECIMAL and compared in decimal.
    s.sql(
      """SELECT c_custkey, c_name
        |FROM subq_customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) >
        |      (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) / COUNT(*) AS DECIMAL(18,2)) FROM subq_customer)
        |  AND EXISTS (SELECT 1 FROM subq_orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin)
  }

  /** P-PCT — exact percentiles (interpolating percentile_cont) per group. */
  private val pct = Probe(
    "p_pct_percentiles",
    """SELECT event_type,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4) AS p50,
      |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 4) AS p90,
      |  round(MIN(value), 4) AS vmin, round(MAX(value), 4) AS vmax
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(min(col("value")), 4).as("vmin"),
        round(max(col("value")), 4).as("vmax"))
      .orderBy("event_type")
  }

  /** P-MERGE — upsert (MERGE) semantics as a full-outer join: updates
    * overwrite matching base rows, unmatched updates insert, everything
    * else passes through. The batch formulation of the lakehouse MERGE —
    * one shuffle on the merge key.
    */
  private val merge = Probe(
    "p_merge_upsert",
    """WITH upd AS (
      |  SELECT o_orderkey, 'RUSH' AS new_status FROM orders WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, 'NEW' FROM orders WHERE o_orderkey % 101 = 0),
      |merged AS (
      |  SELECT COALESCE(u.o_orderkey, o.o_orderkey) AS o_orderkey,
      |         COALESCE(u.new_status, o.o_orderstatus) AS status,
      |         (u.o_orderkey IS NOT NULL AND o.o_orderkey IS NOT NULL) AS updated,
      |         (o.o_orderkey IS NULL) AS inserted
      |  FROM orders o FULL OUTER JOIN upd u ON o.o_orderkey = u.o_orderkey)
      |SELECT * FROM merged ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val o = Tables(s, dir, "orders")
    val upd = o.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("u_key"), lit("RUSH").as("new_status"))
      .unionAll(o.filter(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 100000000L).as("u_key"), lit("NEW").as("new_status")))
    o.join(upd, o("o_orderkey") === upd("u_key"), "full_outer")
      .select(
        coalesce(col("u_key"), col("o_orderkey")).as("o_orderkey"),
        coalesce(col("new_status"), col("o_orderstatus")).as("status"),
        (col("u_key").isNotNull && col("o_orderkey").isNotNull).as("updated"),
        col("o_orderkey").isNull.as("inserted"))
      .orderBy("o_orderkey")
  }

  val all: Seq[Probe] = Seq(asof, asof2, pivot, subq, pct, merge)
}
