package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{FixedClock, LineageTimings}
import graft.lake.TxTable
import graft.layers.{EtlContext, Interface, Rainforest}
import graft.sources.RainforestFromTpch

/** `medallion_daily`: the bronze → silver → gold lineage rerun once per
  * "day" onto one txlog lake, then both stakeholder report
  * views, a seeded batch of report queries, and a drain of the gold
  * `daily_order_metrics` change feed to its downstream consumers.
  *
  * Day d reads the harness-generated snapshot of the upstream tables
  * for that day (`inputs.py`: 1 % new orders and line items, and 1 % of
  * customers changed, per day). The lineage runs the way the library's
  * own entry points run it (`graft.Bench`, `graft.LineageOnce`): each silver
  * and gold node's `runOnce` in turn, the registry running the node's
  * upstreams. Every day stamps a new
  * `etl_inserted` through a [[FixedClock]], so every node commits
  * through `overwritePartition`.
  *
  * The drain runs two change-feed streams from `format("txlog")` under
  * `Trigger.AvailableNow`: one keeps a replica through `foreachBatch` →
  * `applyChanges`, the other appends the feed to a change-log table
  * through the txlog streaming sink.
  */
final class Medallion(c: Ctx) extends Workload {
  import c.{rec, spark}

  private val warmupDays = 1 // day 0 builds the lake
  private val replicaKeys = Seq("order_date", "etl_inserted")

  private val lake = c.work.resolve("lake")
  private val downstream = c.work.resolve("downstream")
  private val baseStamp = FixedClock.default.at.getTime
  private var measuredDays = Vector.empty[Int]
  private var answers = Vector.empty[Map[String, Any]]
  private var goldPath: String = _
  private lazy val gold = new TxTable(spark, goldPath)
  private val replica = new TxTable(spark, downstream.resolve("replica").toString)
  private val changelog =
    new TxTable(spark, downstream.resolve("changelog").toString)

  private def stamp(d: Int): Timestamp = new Timestamp(baseStamp + d * 86400000L)

  /** The report's categories: the part types of the inputs. */
  private var categories: IndexedSeq[String] = _

  def setup(): Unit = {
    categories = spark.read.parquet(dayDir(0).resolve("part.parquet").toString)
      .select("p_type").distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    rec.phase("warmup")((0 until warmupDays).foreach(d => day(d, measured = false)))
  }

  /** Day d's upstream snapshot, generated by the harness. */
  private def dayDir(d: Int): Path = c.inputs.resolve(s"day_$d")

  def measure(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var d = warmupDays
    while ((measuredDays.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
        && Files.isDirectory(dayDir(d))) {
      day(d, measured = true)
      measuredDays :+= d
      d += 1
    }
  }

  private def day(d: Int, measured: Boolean): Unit = {
    val dir = dayDir(d)
    val rf = new Rainforest(EtlContext(spark, RainforestFromTpch(dir.toString),
      lake.toString, dataFormat = "txlog", clock = FixedClock(stamp(d))))
    val plan = if (measured) queryPlan(d) else Nil
    LineageTimings.clear()
    val t0 = System.nanoTime()
    val ok = rec.span(s"day $d") {
      val (lineageOk, goldDone) = lineage(rf)
      if (measured) {
        val nodes = LineageTimings.snapshot
        def sum(ns: Seq[graft.layers.Node]) = ns.flatMap(n => nodes.get(n.name)).sum
        rec.sample("lineage_s", (System.nanoTime() - t0) / 1e9)
        rec.sample("core.node_s_sum", nodes.values.sum)
        rec.sample("core.critical_node_s", nodes.values.max)
        rec.sample("layers.bronze_s", sum(rf.bronze))
        rec.sample("layers.silver_s", sum(rf.silver))
        rec.sample("layers.gold_s", sum(rf.gold))
      }
      lineageOk && reports(rf, plan, d) && drain(d, goldDone, measured)
    }
    if (ok && measured) {
      rec.sample("day_s", (System.nanoTime() - t0) / 1e9)
      saveReports(d)
    }
    rec.set(s"lake_after_day $d", Lake.counts(lake))
  }

  /** Runs every silver and gold node once, in turn. Returns success and
    * the time the gold table the drain follows was committed. */
  private def lineage(rf: Rainforest): (Boolean, Double) =
    rec.span("lineage") {
      var goldDone = Double.NaN
      val ok = (rf.silver ++ rf.gold).map { n =>
        val r = rec.op("node_ms", s"runOnce ${n.name}")(
          rf.ctx.registry.runOnce(n))
        if (n eq rf.dailyOrderMetrics) goldDone = rec.nowMs
        r.isDefined
      }.forall(identity)
      (ok, goldDone)
    }

  private def reports(rf: Rainforest, plan: Seq[Query], d: Int): Boolean =
    rec.span("reports") {
      Interface.createDailyOrderReportView(
        rf.ctx.registry.runOnce(rf.dailyOrderMetrics).data)
      Interface.createDailyCategoryReportView(
        rf.ctx.registry.runOnce(rf.dailyCategoryMetrics).data)
      plan.map { q =>
        val rows = rec.op("report_ms", q.name)(q.run(rf))
        rows.foreach(r => answers :+= q.params ++ Map("day" -> d, "rows" -> r))
        rows.isDefined
      }.forall(identity)
    }

  private def feed(): DataFrame = spark.readStream.format("txlog")
    .option("path", goldPath).option("readChangeFeed", "true").load()

  /** Both change-feed streams, each an AvailableNow run to the end of
    * the gold log as it stands. The first call turns the feed on. */
  private def drain(d: Int, goldDone: Double, measured: Boolean): Boolean = {
    if (goldPath == null) {
      goldPath = new Rainforest(EtlContext(spark, RainforestFromTpch(""),
        lake.toString)).dailyOrderMetrics.storagePath
      gold.enableChangeDataFeed()
      val empty = java.util.Collections.emptyList[Row]()
      replica.create(spark.createDataFrame(empty, gold.read().schema))
      changelog.create(spark.createDataFrame(empty, feed().schema))
    }
    rec.op("drain_ms", s"drain day $d") {
      val rq = feed().writeStream
        .option("checkpointLocation", downstream.resolve("ckpt_replica").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val cached = batch.cache()
          try {
            cached.select(col("_commit_version")).distinct().collect()
              .map(_.getLong(0)).sorted.foreach { v =>
                replica.applyChanges(
                  cached.where(col("_commit_version") === v)
                    .drop("_commit_timestamp"), replicaKeys)
              }
          } finally { cached.unpersist(); () }
        }.start()
      val cq = feed().writeStream.format("txlog")
        .option("path", downstream.resolve("changelog").toString)
        .option("checkpointLocation", downstream.resolve("ckpt_changelog").toString)
        .trigger(Trigger.AvailableNow()).outputMode("append").start()
      Seq(rq, cq).foreach(_.awaitTermination())
      if (measured) {
        rec.sample("replica_lag_ms", rec.nowMs - goldDone)
        progress("replica", rq)
        progress("changelog", cq)
      }
    }.isDefined
  }

  private def progress(stream: String, q: StreamingQuery): Unit = {
    val ps = q.recentProgress
    rec.sample(s"streaming.$stream.batches", ps.length.toDouble)
    for (p <- ps; (k, m) <- Seq("triggerExecution" -> "trigger_ms",
        "queryPlanning" -> "query_planning_ms", "getBatch" -> "get_batch_ms",
        "latestOffset" -> "latest_offset_ms", "addBatch" -> "add_batch_ms",
        "walCommit" -> "wal_commit_ms"))
      Option(p.durationMs.get(k)).foreach(v =>
        rec.sample(s"streaming.$stream.$m", v.doubleValue))
  }

  /** One stakeholder query: its parameters (for the output check) and
    * how to run it, returning rows as `|`-joined strings. */
  private final case class Query(name: String, params: Map[String, Any],
      run: Rainforest => Seq[String])

  private def queryPlan(d: Int): Seq[Query] = {
    val r = new scala.util.Random(c.seed * 1000003L + d)
    def date(off: Int) = java.time.LocalDate.parse("1995-01-01").plusDays(off)
    def rowsOf(sql: String): Seq[String] =
      spark.sql(sql).collect().toSeq.map(_.toSeq.mkString("|"))
    val ranges = (1 to 4).map { i =>
      val lo = date(r.nextInt(2300)); val hi = lo.plusDays(7 + r.nextInt(120))
      Query(s"range$i", Map("kind" -> "range", "lo" -> lo.toString,
        "hi" -> hi.toString), _ => rowsOf(
        s"SELECT count(*), sum(Revenue) FROM global_temp.daily_order_report " +
          s"WHERE Date BETWEEN DATE'$lo' AND DATE'$hi'"))
    }
    val cats = (1 to 3).map { i =>
      val cat = categories(r.nextInt(categories.size))
      val lo = date(r.nextInt(2300)); val hi = lo.plusDays(30 + r.nextInt(300))
      Query(s"category$i", Map("kind" -> "category", "category" -> cat,
        "lo" -> lo.toString, "hi" -> hi.toString), _ => rowsOf(
        "SELECT count(*), max(`Mean Revenue`), max(`Median Revenue`) " +
          "FROM global_temp.daily_category_report " +
          s"WHERE `Product Category`.category_name = '$cat' " +
          s"AND Date BETWEEN DATE'$lo' AND DATE'$hi'"))
    }
    val tops = (1 to 3).map { i =>
      val k = 5 + r.nextInt(20)
      Query(s"top$i", Map("kind" -> "top", "k" -> k), _ => rowsOf(
        "SELECT Date, Revenue FROM global_temp.daily_order_report " +
          s"ORDER BY Revenue DESC, Date LIMIT $k"))
    }
    // partition-pinned reads of the previous day's gold load
    val prev = stamp(d - 1).toString
    val pinned = Seq(
      Query("pinned_order", Map("kind" -> "pinned_order"), rf =>
        Seq(rf.dailyOrderMetrics.read(Map("etl_inserted" -> prev)).data
          .count().toString)),
      Query("pinned_category", Map("kind" -> "pinned_category"), rf =>
        Seq(rf.dailyCategoryMetrics.read(Map("etl_inserted" -> prev)).data
          .count().toString)))
    r.shuffle(ranges ++ cats ++ tops ++ pinned)
  }

  /** Write the day's two reports in the oracle's column shape. */
  private def saveReports(d: Int): Unit = {
    val out = c.work.resolve("check").resolve(s"day_$d")
    Interface.dailyOrderReport(spark)
      .select(col("Date").as("order_date"),
        col("Revenue").cast("double").as("revenue"),
        col("`Mean Revenue`").as("mean_revenue"))
      .write.parquet(out.resolve("order_report").toString)
    Interface.dailyCategoryReport(spark)
      .select(col("Date").as("order_date"),
        col("`Product Category`.category_id").as("category_id"),
        col("`Product Category`.category_name").as("category_name"),
        col("`Mean Revenue`").as("mean_revenue"),
        col("`Median Revenue`").as("median_revenue"))
      .write.parquet(out.resolve("category_report").toString)
  }

  def finish(): Map[String, Any] = {
    val check = c.work.resolve("check")
    gold.read().write.parquet(check.resolve("gold").toString)
    replica.read().write.parquet(check.resolve("replica").toString)
    changelog.read().write.parquet(check.resolve("changelog").toString)
    val (stored, live) = Lake.footprint(spark, lake)
    Map(
      "live_files" -> Lake.liveFiles(spark, lake),
      "days" -> measuredDays.map(d => Map("day" -> d,
        "dir" -> dayDir(d).toString, "prev_dir" -> dayDir(d - 1).toString,
        "check" -> check.resolve(s"day_$d").toString)),
      "answers" -> answers,
      "oracle" -> Seq("pipeline_daily_order_report",
        "pipeline_daily_category_report")
        .map(n => n -> graft.SparkEntry.oracleSql(n)).toMap,
      "gold" -> check.resolve("gold").toString,
      "replica" -> check.resolve("replica").toString,
      "changelog" -> check.resolve("changelog").toString,
      "stored_bytes" -> stored, "live_bytes" -> live)
  }
}

