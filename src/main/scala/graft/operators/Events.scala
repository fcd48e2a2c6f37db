package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Event-stream analytics over the `events` table — the batch formulations
  * of the micro-batch semantics the reference pipeline has (SURVEY.md §2.9:
  * daily file drops, bookmark-incremental processing) plus the stateful
  * extensions it lacks (windows, sessions, as-of enrichment). The
  * Structured Streaming equivalents live in [[graft.streaming.EventStreams]]
  * and are asserted equal to these batch results in tests.
  *
  * Scale notes: the window aggregation is one shuffle on (hour, type) with
  * partial aggregation; sessionization and as-of are each ONE shuffle on
  * user key + a sorted window pass — the sort-merge pattern that survives
  * 100 TB (no point-in-time O(n·m) join, no driver loops).
  */
object Events {

  /** Tumbling 1-hour windows per event type: count + exact decimal sum.
    * Decimal(18,2) keeps the sum order-independent and bit-equal across
    * engines (double sums drift in the last ulp under reordering). */
  def hourlyWindows(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** JSON extraction from the `props` column + per-type rollup of the
    * extracted field (schema-on-read over semi-structured payloads). */
  def jsonExtract(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  val SessionGapMinutes = 30

  /** Gap-based sessionization (batch formulation): a new session starts
    * when a user's inter-event gap exceeds SessionGapMinutes; session_id is
    * the running count of session starts. One shuffle on user_id, one
    * sorted window pass. */
  def sessionize(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withStart = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_start",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > SessionGapMinutes * 60L, 1L)
          .otherwise(0L))
    withStart
      .withColumn("session_id", sum(col("is_start")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** As-of join (a join type Spark lacks natively, SURVEY.md §2.3 "absent"):
    * enrich each event with the user's most recent order at event time.
    * Implemented the scalable way — union both sides, one shuffle on the
    * key, one sorted window carrying the last order forward — instead of a
    * per-row point lookup. Ties (ts == order time) take the order, matching
    * ASOF semantics (`ts >= o_orderdate`). */
  def asOfJoinOrders(events: DataFrame, orders: DataFrame): DataFrame = {
    val o = orders.select(
      col("o_custkey").as("user_id"),
      col("o_orderdate").as("t"),
      lit(null).cast("long").as("event_id"),
      lit(null).cast("string").as("event_type"),
      col("o_orderkey"), lit(0).as("side"))
    val e = events.select(
      col("user_id"), col("ts").as("t"),
      col("event_id"), col("event_type"),
      lit(null).cast("long").as("o_orderkey"), lit(1).as("side"))
    // orders sort before events at equal t (side 0 < 1), and within orders
    // the larger orderkey wins deterministically via the running max-by.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("side"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionByName(e)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("t").as("ts"),
        col("event_type"), col("asof_orderkey"))
  }

  /** Range "join" without the join: for each event, count events (any
    * user) in the preceding `windowSeconds` — at microsecond precision,
    * self excluded.
    *
    * The v1 formulation bucketed candidates into (bucket, bucket+1) and
    * equi-joined with a residual range filter. That materializes every
    * in-window PAIR, so its cost is quadratic in event DENSITY: the
    * scale sweep measured ×13 wall for ×50 rows at constant time-span
    * (a hot minute at fleet scale is the q16 trap with no scale path).
    * But the aggregate never needed pairs — it is a classic sliding-
    * window count: duplicate each event into its own bucket and the
    * next (the only two buckets a window can span), hash-shuffle on the
    * bucket, sort within partitions by (bucket, ts), and run a
    * two-pointer pass per bucket — a deque of candidate timestamps
    * still inside the window, evicted from the front as time advances.
    * One shuffle of 2N rows, O(N log N) sort, O(N) kernel, O(window
    * occupancy) memory; per-event output is `deque − self`, with equal
    * timestamps grouped so ties count each other symmetrically (the
    * `c_ts <= ts` contract). A hot bucket costs linear work in ONE
    * task instead of quadratic pairs. (The declarative alternative — a
    * global `RANGE BETWEEN INTERVAL` window — funnels the corpus
    * through one unpartitioned sort task, the plan shape PlanShapeSpec
    * bans; the per-bucket kernel is the distributed form of the same
    * frame.) Row-identical to the v1 join (ids are unique per the
    * events contract): spec-pinned against a direct O(n²) ground truth
    * and DuckDB's own range join (q33). */
  def rangeJoinPriorCount(events: DataFrame, windowSeconds: Int = 60): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = windowSeconds * 1000000L
    val allRows = events.select(col("event_id").cast("long"),
      unix_micros(col("ts")).as("tus"))
    // NULL ts/id rows: the v1 join's NULL-propagating predicate matched
    // nothing, emitting those events with n_prior = 0 and counting them
    // as candidates never — preserve exactly that (the typed kernel
    // encoder would otherwise fail the whole query on the first NULL).
    // GROUP BY on the id, not one-row-per-input: v1's groupBy(event_id)
    // (and the oracle's GROUP BY e1.event_id) collapses all NULL-id rows
    // into a single output group, so the kernel must too.
    val nullRows = allRows
      .filter(col("tus").isNull || col("event_id").isNull)
      .groupBy(col("event_id"))
      .agg(lit(0L).as("n_prior"))
    val rows = allRows.filter(col("tus").isNotNull && col("event_id").isNotNull)
    // integer `div`, not double division: tus is ~2^50 microseconds and
    // a double-rounded bucket boundary would misplace edge rows
    val tagged = rows
      .withColumn("own_bucket", expr(s"tus div $w"))
      .select(col("event_id"), col("tus"), col("own_bucket"),
        explode(array(col("own_bucket"), col("own_bucket") + 1))
          .as("target"))
      .select(col("event_id"), col("tus"), col("target"),
        (col("target") === col("own_bucket")).as("is_own"))
      .as[(Long, Long, Long, Boolean)]
    tagged.repartition(col("target"))
      .sortWithinPartitions(col("target"), col("tus"), col("event_id"))
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long)] {
          private val win = new java.util.ArrayDeque[Long]()
          private var curTarget = Long.MinValue
          private var out: List[(Long, Long)] = Nil
          private def advance(): Unit =
            while (out.isEmpty && buf.hasNext) {
              val (_, tus, target, _) = buf.head
              if (target != curTarget) { win.clear(); curTarget = target }
              // the tie group: rows at this exact timestamp count each
              // other (c_ts <= ts), so push them all before emitting
              var group: List[(Long, Long, Long, Boolean)] = Nil
              while (buf.hasNext && buf.head._3 == curTarget
                  && buf.head._2 == tus)
                group ::= buf.next()
              while (!win.isEmpty && win.peekFirst() <= tus - w)
                win.removeFirst()
              group.foreach(g => win.addLast(g._2))
              out = group.collect { case (id, _, _, true) =>
                (id, win.size().toLong - 1) // − self
              }
            }
          def hasNext: Boolean = { advance(); out.nonEmpty }
          def next(): (Long, Long) =
            { advance(); val h = out.head; out = out.tail; h }
        }
      }
      .toDF("event_id", "n_prior")
      .unionByName(nullRows)
  }

  // ---- SparkEntry wiring -------------------------------------------------

  def qHourlyWindows(s: SparkSession, d: String): DataFrame =
    hourlyWindows(Tables.events(s, d))

  val qHourlyWindowsSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |       COUNT(*) AS n_events,
      |       SUM(value::DECIMAL(18,2))::DOUBLE AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  def qJsonExtract(s: SparkSession, d: String): DataFrame =
    jsonExtract(Tables.events(s, d))

  val qJsonExtractSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       SUM(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
      |       MIN(json_extract_string(props, '$.k')::BIGINT) AS min_k,
      |       MAX(json_extract_string(props, '$.k')::BIGINT) AS max_k
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  def qSessionize(s: SparkSession, d: String): DataFrame =
    sessionize(Tables.events(s, d))

  val qSessionizeSql: String =
    s"""WITH g AS (
       |  SELECT user_id, event_id, ts, value,
       |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       |                OR floor(epoch(ts))::BIGINT
       |                   - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT
       |                   > ${SessionGapMinutes * 60} THEN 1 ELSE 0 END AS is_start
       |  FROM events),
       |s AS (
       |  SELECT user_id, ts, value,
       |         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
       |  FROM g)
       |SELECT user_id, session_id, COUNT(*) AS n_events,
       |       MIN(ts) AS session_start, MAX(ts) AS session_end,
       |       SUM(value::DECIMAL(18,2))::DOUBLE AS sum_value
       |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin

  def qAsOfJoin(s: SparkSession, d: String): DataFrame =
    asOfJoinOrders(Tables.events(s, d), Tables.orders(s, d))

  def qRangeJoin(s: SparkSession, d: String): DataFrame =
    rangeJoinPriorCount(Tables.events(s, d))

  val qRangeJoinSql: String =
    """SELECT e1.event_id, COUNT(e2.event_id) AS n_prior
      |FROM events e1 LEFT JOIN events e2
      |  ON e2.ts > e1.ts - INTERVAL 60 SECOND
      | AND e2.ts <= e1.ts
      | AND e2.event_id <> e1.event_id
      |GROUP BY 1 ORDER BY e1.event_id""".stripMargin

  val qAsOfJoinSql: String =
    """SELECT e.event_id, e.user_id, e.ts, e.event_type,
      |       o.o_orderkey AS asof_orderkey
      |FROM events e ASOF LEFT JOIN
      |     (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      |      FROM orders GROUP BY 1, 2) o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY event_id""".stripMargin
}
