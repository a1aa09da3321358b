package graft.operators

import graft.{Q, Tables}
import graft.functions.Det._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / query core.
  *
  * Re-expresses the reference's store-and-query layer
  * (src/database/schema.sql views, src/database/db_manager.py query API)
  * as declarative Spark plans: multi-aggregate views, composable filter
  * queries, text search, bucketing, top-k per group, and star-schema
  * join-enrichment. Dims are always broadcast; aggregates rely on
  * map-side partial aggregation so every plan scales out linearly.
  */
object Relational {

  /** v_app_stats-style multi-aggregate (schema.sql:229) over lineitem. */
  val qPricingSummary: Q = Q(
    "q_pricing_summary",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${exactSumSql("l_quantity", 2)} AS sum_qty,
       |  ${exactSumSql("l_extendedprice", 2)} AS sum_base_price,
       |  ${exactSumSql("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
       |  ${exactAvgSql("l_quantity", 2, 2)} AS avg_qty,
       |  ${exactAvgSql("l_discount", 4, 4)} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= DATE '2001-09-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("date"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        exactSum(col("l_quantity"), 2).as("sum_qty"),
        exactSum(col("l_extendedprice"), 2).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
        exactAvg(col("l_quantity"), 2, 2).as("avg_qty"),
        exactAvg(col("l_discount"), 4, 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Composable filter query (db_manager.get_reviews:331): predicates are
    * plain Catalyst filters so they push into the parquet scan; ordering on
    * the µs-truncated timestamp keeps Spark and the ns-precision oracle
    * aligned.
    */
  val qFilterQuery: Q = Q(
    "q_filter_query",
    """SELECT event_id, user_id, event_type,
      |       date_trunc('microseconds', ts) AS ts, value
      |FROM events
      |WHERE event_type = 'purchase' AND value >= 100
      |ORDER BY date_trunc('microseconds', ts) DESC, event_id NULLS LAST
      |LIMIT 100""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .filter(col("event_type") === "purchase" && col("value") >= 100)
      .select("event_id", "user_id", "event_type", "ts", "value")
      .orderBy(col("ts").desc, col("event_id").asc_nulls_last)
      .limit(100)
  }

  /** Paginated filter query (db_manager.get_reviews:331 offset param):
    * page 2 of the same composable filter — a total order (ts DESC with the
    * unique id as tie-break) makes OFFSET deterministic, which the
    * reference relies on for stable pagination. Spark compiles
    * offset+limit to one CollectLimit; pages stay driver-sized.
    */
  val qFilterPage: Q = Q(
    "q_filter_page",
    """SELECT event_id, user_id, event_type,
      |       date_trunc('microseconds', ts) AS ts, value
      |FROM events
      |WHERE event_type = 'purchase' AND value >= 100
      |ORDER BY date_trunc('microseconds', ts) DESC, event_id NULLS LAST
      |LIMIT 100 OFFSET 100""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .filter(col("event_type") === "purchase" && col("value") >= 100)
      .select("event_id", "user_id", "event_type", "ts", "value")
      .orderBy(col("ts").desc, col("event_id").asc_nulls_last)
      .offset(100).limit(100)
  }

  /** LIKE text search (db_manager.search_reviews:438). */
  val qSearchText: Q = Q(
    "q_search_text",
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE text LIKE '%spark%' AND text LIKE '%window%'
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("text").contains("spark") && col("text").contains("window"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Per-key stats view (schema.sql v_app_stats:229): count, deterministic
    * mean, conditional counts, distinct users, time range.
    */
  val qKeyStats: Q = Q(
    "q_key_stats",
    s"""SELECT event_type,
       |  COUNT(*) AS event_count,
       |  ${exactAvgSql("value", 2, 4)} AS avg_value,
       |  CAST(SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
       |  CAST(SUM(CASE WHEN value < 10 THEN 1 ELSE 0 END) AS BIGINT) AS low_count,
       |  COUNT(DISTINCT user_id) AS unique_users,
       |  date_trunc('microseconds', MIN(ts)) AS earliest_ts,
       |  date_trunc('microseconds', MAX(ts)) AS latest_ts
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("event_count"),
        exactAvg(col("value"), 2, 4).as("avg_value"),
        sum(when(col("value") >= 100, 1).otherwise(0)).as("high_count"),
        sum(when(col("value") < 10, 1).otherwise(0)).as("low_count"),
        countDistinct(col("user_id")).as("unique_users"),
        min(col("ts")).as("earliest_ts"),
        max(col("ts")).as("latest_ts"))
      .orderBy("event_type")
  }

  /** Daily volume + trend view (schema.sql v_daily_stats:262). */
  val qDailyStats: Q = Q(
    "q_daily_stats",
    s"""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
       |  COUNT(*) AS event_count,
       |  ${exactAvgSql("value", 2, 4)} AS avg_value,
       |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count,
       |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count
       |FROM events
       |GROUP BY 1
       |ORDER BY event_date""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
      .agg(
        count(lit(1)).as("event_count"),
        exactAvg(col("value"), 2, 4).as("avg_value"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchase_count"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("error_count"))
      .orderBy("event_date")
  }

  /** Sentiment-bucket distribution (db_manager.get_sentiment_distribution:408):
    * single-row conditional aggregate.
    */
  val qBucketDistribution: Q = Q(
    "q_bucket_distribution",
    """SELECT
      |  CAST(SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS high,
      |  CAST(SUM(CASE WHEN value >= 10 AND value < 100 THEN 1 ELSE 0 END) AS BIGINT) AS mid,
      |  CAST(SUM(CASE WHEN value < 10 THEN 1 ELSE 0 END) AS BIGINT) AS low
      |FROM events""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d).agg(
      sum(when(col("value") >= 100, 1).otherwise(0)).as("high"),
      sum(when(col("value") >= 10 && col("value") < 100, 1).otherwise(0)).as("mid"),
      sum(when(col("value") < 10, 1).otherwise(0)).as("low"))
  }

  /** Bucket × key cross-tab via Spark pivot (v_reviews_sentiment per app). */
  val qBucketByKey: Q = Q(
    "q_bucket_by_key",
    """SELECT event_type,
      |  CAST(SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS high,
      |  CAST(SUM(CASE WHEN value >= 10 AND value < 100 THEN 1 ELSE 0 END) AS BIGINT) AS mid,
      |  CAST(SUM(CASE WHEN value < 10 THEN 1 ELSE 0 END) AS BIGINT) AS low
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      // no otherwise(): a NULL value must land in NO bucket (the oracle's
      // SUM(CASE WHEN value < 10 ...) yields 0 for NULL), not in "low"
      .withColumn("bucket",
        when(col("value") >= 100, "high")
          .when(col("value") >= 10, "mid")
          .when(col("value") < 10, "low"))
      .groupBy("event_type")
      .pivot("bucket", Seq("high", "mid", "low"))
      .agg(count(lit(1)))
      .na.fill(0L) // absent event_type × bucket cells surface as nulls here
      .orderBy("event_type")
  }

  /** Top-N per group (helpful-review pattern; schema.sql idx_reviews_thumbs_up). */
  val qTopkPerGroup: Q = Q(
    "q_topk_per_group",
    """SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
      |FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 5
      |ORDER BY o_orderpriority, rn""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy("o_orderpriority", "rn")
  }

  /** Join-enrichment view (schema.sql v_reviews_with_app:215): fact rows
    * decorated with dimension attributes. Dims are tiny — broadcast them so
    * there is no shuffle of the fact side at any scale.
    */
  val qJoinEnrich: Q = Q(
    "q_join_enrich",
    """SELECT c_custkey, c_name, c_mktsegment, n_name AS nation_name, r_name AS region_name
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("n_name").as("nation_name"), col("r_name").as("region_name"))
      .orderBy("c_custkey")
  }

  /** Star-schema rollup (v_labeled_reviews 4-way join; TPC-H Q5 shape):
    * lineitem ⋈ orders shuffles on the key, all dims broadcast, date filter
    * pushed to the orders scan. Left-deep: an orders-grain re-root
    * (orders ⋈ customer first, then the fact side) measured ~1.8× slower
    * at every SF tried, so it is not used.
    */
  val qStarRollup: Q = Q(
    "q_star_rollup",
    s"""SELECT r_name AS region_name, n_name AS nation_name,
       |  ${exactSumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
       |  COUNT(*) AS line_count
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
       |GROUP BY r_name, n_name
       |ORDER BY region_name, nation_name""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .join(
        Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
            col("o_orderdate") < lit("1998-01-01").cast("date")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("line_count"))
      .orderBy("region_name", "nation_name")
  }

  /** Global stats snapshot (db_manager.get_stats:508). */
  val qGlobalStats: Q = Q(
    "q_global_stats",
    s"""SELECT COUNT(*) AS total_events,
       |  COUNT(DISTINCT user_id) AS total_users,
       |  COUNT(DISTINCT event_type) AS total_types,
       |  ${exactAvgSql("value", 2, 4)} AS avg_value,
       |  strftime(CAST(MIN(ts) AS DATE), '%Y-%m-%d') AS earliest_date,
       |  strftime(CAST(MAX(ts) AS DATE), '%Y-%m-%d') AS latest_date
       |FROM events""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d).agg(
      count(lit(1)).as("total_events"),
      countDistinct(col("user_id")).as("total_users"),
      countDistinct(col("event_type")).as("total_types"),
      exactAvg(col("value"), 2, 4).as("avg_value"),
      date_format(min(col("ts")), "yyyy-MM-dd").as("earliest_date"),
      date_format(max(col("ts")), "yyyy-MM-dd").as("latest_date"))
  }

  val all: Seq[Q] = Seq(
    qPricingSummary, qFilterQuery, qFilterPage, qSearchText, qKeyStats,
    qDailyStats, qBucketDistribution, qBucketByKey, qTopkPerGroup,
    qJoinEnrich, qStarRollup, qGlobalStats)
}
