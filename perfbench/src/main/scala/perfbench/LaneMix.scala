package perfbench

import java.io.File

import scala.sys.process._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Existing lanes over sf0.1-sized tables, where planning,
  * scheduling, shuffle, `plans/` and `operators/` do the work and the
  * codec almost none. The tables are generated in set-up from a fixed
  * data seed, so the committed DuckDB digests stay valid, and the lanes
  * run in a fixed order: the first lane of a session pays most of the
  * warm-up, so a seeded order would only add noise. The run's seed does
  * not change this workload. */
final class LaneMix(o: Opts, inputs: File) extends Workload {
  private val tables = new File(inputs, "tables")
  private val dir = tables.getPath

  def setup(spark: SparkSession): Unit = LaneTables.write(spark, tables)

  import LaneMix.lanes

  private val out = new File(inputs, "lane_out")
  private var rowsRead = 0.0
  private val counted = scala.collection.mutable.Set[String]()

  /** Each execution persists the lane's answer as parquet, which the check
    * reads back. The first execution of each lane also counts the rows its
    * tasks read from the input files (for `rows_per_s`). */
  val queries: Seq[Query] = lanes.map { name =>
    val fn = graft.SparkEntry.queries(name)
    Query(name, { s =>
      val rows = if (counted.add(name)) Some(new RecordsRead(s)) else None
      fn(s, dir).write.mode("overwrite").parquet(new File(out, name).getPath)
      rows.foreach(r => rowsRead += r.stop())
      null
    })
  }

  /** The last pass's output of each lane, hashed the way the committed
    * DuckDB digests were, and compared with them. */
  def check(spark: SparkSession, answers: Map[String, Seq[Any]]): Map[String, String] = {
    val cmd = Seq("python3", new File(o.benchDir, "oracle.py").getPath, "check",
      out.getPath, new File(o.benchDir, LaneMix.digestFile).getPath) ++ lanes
    cmd.!!.split("\n").filter(_.nonEmpty).map { line =>
      val Array(n, why) = line.split("\t", 2)
      n -> why
    }.toMap
  }

  def rowsPerPass(spark: SparkSession): Double = rowsRead

  private def propsBytes(spark: SparkSession): Long =
    graft.Tables.events(spark, dir).agg(sum(octet_length(col("props")))).head().getLong(0)

  def jsonBytesPerPass(spark: SparkSession): Double =
    propsBytes(spark).toDouble * lanes.count(LaneMix.parsesProps)

  def bytesPerJsonByte(spark: SparkSession): Double = {
    val v = graft.Tables.events(spark, dir)
      .select(graft.functions.VariantFunctions.variant_from_json(col("props")).as("v"))
    v.agg(sum(octet_length(col("v.metadata")) + octet_length(col("v.value")))).head().getLong(0)
      .toDouble / propsBytes(spark)
  }

  def facts(spark: SparkSession): Seq[(String, Any)] = Seq(
    "lanes" -> lanes, "data_seed" -> LaneTables.DataSeed,
    "table_rows" -> LaneTables.rows,
    "scan_splits" -> LaneTables.rows.keys.map(t =>
      t -> spark.read.parquet(s"$dir/$t.parquet").rdd.getNumPartitions).toMap)

  def layers(spark: SparkSession, queryS: Map[String, Double], perPass: String => Double,
             probes: Probes): Seq[Metric] = {
    val lanesS = queryS.toSeq.filterNot(q => LaneMix.isTpch(q._1))
      .map { case (n, t) => Metric(s"lane.${n}_s", t, "s") }
    // per execution of a streaming lane; each execution is its own query
    val runs = probes.batches.toArray(new Array[StreamBatch](0)).toSeq.groupBy(_.query).values.toSeq
    def perRun(f: StreamBatch => Long): Double = Probes.median(runs.map(_.map(f).sum.toDouble))
    lanesS ++ Seq(
      Metric("plans.grouped_topk_s", queryS.getOrElse("q_grouped_topk", Double.NaN), "s"),
      Metric("plans.range_join_s", queryS.getOrElse("q_broadcast_range_join", Double.NaN), "s"),
      Metric("stream.batches", Probes.median(runs.map(_.size.toDouble)), "count"),
      Metric("stream.batch_p50_ms", Probes.median(runs.flatten.map(_.triggerMs.toDouble)), "ms"),
      Metric("stream.add_batch_ms", perRun(_.addBatchMs), "ms"),
      Metric("stream.planning_ms", perRun(_.planningMs), "ms"),
      Metric("stream.wal_commit_ms", perRun(_.walCommitMs), "ms"),
      // the last batch of a run holds its state store's total
      Metric("stream.state_rows", Probes.median(runs.map(_.last.stateRows.toDouble)), "count"))
  }
}

object LaneMix {
  val digestFile = "oracle/lane_mix.json"

  /** A TPC-H aggregate, both custom-exec lanes, a streaming lane and one
    * JSON lane: a pass takes a few seconds on four cores, which is what
    * the run's time budget allows. */
  val lanes: Seq[String] = Seq(
    "q1_pricing_summary", "q_grouped_topk", "q_broadcast_range_join", "s_session_native",
    "v_sum_by_type")

  def isTpch(n: String): Boolean = n.matches("q\\d+_.*")
  def parsesProps(n: String): Boolean = n.startsWith("v_")
}

/** Sums the rows that tasks read from their input files while it is
  * registered (task `inputMetrics.recordsRead`). */
final class RecordsRead(spark: SparkSession) {
  private val n = new java.util.concurrent.atomic.AtomicLong()
  private val l = new org.apache.spark.scheduler.SparkListener {
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) n.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
  }
  spark.sparkContext.addSparkListener(l)

  def stop(): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    n.get.toDouble
  }
}

/** Seeded tables with the fixture tables' schemas and sf0.1 row counts,
  * for the tables the lanes read: `lineitem` and `events` (with JSON
  * `props`). Each is one parquet file, as the streaming lane, which copies
  * `events.parquet` into its source directory, expects. */
object LaneTables {
  val DataSeed = 42L
  val rows: Map[String, Long] = Map("lineitem" -> 600000L, "events" -> 100000L)

  /** Uniform integer in [0, m) from the row id and a per-column salt. */
  private def rnd(salt: Int, m: Long): Column =
    pmod(xxhash64(lit(DataSeed), col("id"), lit(salt)), lit(m))

  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (rnd(salt, xs.size) + 1).cast("int"))

  private def money(salt: Int, lo: Int, hi: Int): Column =
    ((rnd(salt, (hi - lo) * 100L) + lo * 100L) / 100.0).cast("double")

  def frames(s: SparkSession): Seq[(String, DataFrame)] = {
    def ids(t: String) = s.range(rows(t)).toDF("id")
    Seq(
      "lineitem" -> ids("lineitem").select((col("id") / 4).cast("long").as("l_orderkey"),
        rnd(1, 20000).as("l_partkey"), rnd(2, 1000).as("l_suppkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        (rnd(3, 50) + 1).cast("double").as("l_quantity"), money(4, 900, 100000).as("l_extendedprice"),
        (rnd(5, 11) / 100.0).as("l_discount"), (rnd(6, 9) / 100.0).as("l_tax"),
        pick(7, Seq("A", "N", "R")).as("l_returnflag"), pick(8, Seq("O", "F")).as("l_linestatus"),
        // midnight of a day from 1992-01-02 on, as TIMESTAMP_NTZ
        timestamp_micros(lit(694310400000000L) + rnd(9, 3600) * 86400000000L)
          .cast("timestamp_ntz").as("l_shipdate")),
      "events" -> ids("events").select(col("id").as("event_id"),
        // 30 s apart from 2024-01-01 on, with up to 30 s of jitter
        timestamp_micros(lit(1704067200000000L) + col("id") * 30000000L + rnd(1, 30000000))
          .cast("timestamp_ntz").as("ts"),
        rnd(2, 2000).as("user_id"),
        pick(3, Seq("click", "purchase", "error", "signup", "view")).as("event_type"),
        money(4, 0, 500).as("value"),
        concat(lit("{\"k\": "), rnd(5, 100), lit("}")).as("props")))
  }

  /** Write every table as `<dir>/<name>.parquet`, one file each. */
  def write(s: SparkSession, dir: File): Unit = {
    dir.mkdirs()
    frames(s).foreach { case (name, df) =>
      val tmp = new File(dir, s"$name.tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new File(dir, s"$name.parquet").toPath)
      Session.delete(tmp)
    }
  }
}
