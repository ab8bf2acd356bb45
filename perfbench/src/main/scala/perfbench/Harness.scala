package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean, work: File,
    out: File, cores: Int, setupReps: Int, rows: Long, benchDir: File)

object Opts {
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Documents in the `json_variant` corpus. */
  val CorpusRows = 60000L

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: => String): String = m.getOrElse(k, d)
    Opts(get("workload", sys.error("--workload is required")), get("seed", "1").toLong,
      get("seconds", "15").toDouble, get("trace", "0") == "1", new File(get("work", "perfbench/out/work")),
      new File(get("out", "perfbench/out/result.json")), Runtime.getRuntime.availableProcessors,
      SetupReps, CorpusRows, new File(get("bench-dir", "perfbench")))
  }
}

/** One timed query. `run` returns the answer to check, or null when the
  * query writes to a sink and the check reads what it wrote. */
final case class Query(name: String, run: SparkSession => Any)

/** A metric as printed: value and unit. */
final case class Metric(name: String, value: Double, unit: String)

trait Workload {
  /** Generate and stage the inputs. Timed as part of `setup_s`. */
  def setup(spark: SparkSession): Unit
  def queries: Seq[Query]
  /** Runs after the timed passes. Given every answer each query returned,
    * names the queries whose output is wrong, with the reason. */
  def check(spark: SparkSession, answers: Map[String, Seq[Any]]): Map[String, String]
  /** Input properties, recorded with every run. */
  def facts(spark: SparkSession): Seq[(String, Any)]
  /** Input rows and JSON bytes the queries of one pass read. */
  def rowsPerPass(spark: SparkSession): Double
  def jsonBytesPerPass(spark: SparkSession): Double
  /** Variant bytes (metadata + value) per JSON byte of the workload's JSON. */
  def bytesPerJsonByte(spark: SparkSession): Double
  /** Per-layer metrics this workload measures natively (traced run only),
    * given each query's median time and the listener totals per pass
    * over the traced passes. */
  def layers(spark: SparkSession, queryS: Map[String, Double], perPass: String => Double,
             probes: Probes): Seq[Metric]
}

object Session {
  def start(o: Opts): SparkSession = {
    val tmp = new File(o.work, "tmp"); tmp.mkdirs()
    val b = SparkSession.builder().master(s"local[${o.cores}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.local.dir", tmp.getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .config("spark.ui.enabled", "false")
    val s = graft.Tables.configure(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}

object Harness {
  /** Untimed passes between the first pass and the timed ones. */
  val WarmupPasses = 1
  /** Timed passes per run, at least; traced runs split them between
    * untraced and traced. */
  val MinPasses = 3
}

/** The closed loop: one client, one query at a time. */
final class Harness(o: Opts, make: (Opts, File) => Workload) {
  private val inputs = new File(o.work, "inputs")
  private var passNo = 0
  private var attempted = 0L
  private val thrown = mutable.Map[String, Int]().withDefaultValue(0)
  private val errors = mutable.ArrayBuffer[String]()
  private val answers = mutable.Map[String, mutable.ArrayBuffer[Any]]()

  /** One pass over the workload's queries. Returns the pass time and each
    * query's time, or None when any query threw (a failed pass gets no
    * time). */
  private def pass(spark: SparkSession, wl: Workload, probes: Option[Probes]): Option[(Double, Map[String, Double])] = {
    passNo += 1
    val passSpan = s"pass$passNo"
    val p0 = System.currentTimeMillis()
    val times = mutable.LinkedHashMap[String, Double]()
    var ok = true
    wl.queries.zipWithIndex.foreach { case (q, i) =>
      attempted += 1
      val span = s"$passSpan.q$i"
      spark.sparkContext.setLocalProperty(Probes.SpanKey, span)
      val q0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val a = q.run(spark)
        times(q.name) = (System.nanoTime() - t0) / 1e9
        answers.getOrElseUpdate(q.name, mutable.ArrayBuffer()) += a
      } catch {
        case NonFatal(e) =>
          ok = false
          thrown(q.name) += 1
          errors += s"${q.name}: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      probes.foreach(_.spans.add(Span(span, passSpan, "query", q.name, q0, System.currentTimeMillis())))
    }
    spark.sparkContext.setLocalProperty(Probes.SpanKey, null)
    probes.foreach(_.spans.add(Span(passSpan, null, "pass", passSpan, p0, System.currentTimeMillis())))
    if (ok) Some((times.values.sum, times.toMap)) else None
  }

  def run(): (Boolean, Long, Long, Seq[Metric], Json.Obj) = {
    val loadStart = Probes.loadavg
    var spark: SparkSession = null
    var wl: Workload = null
    val setupS = (1 to o.setupReps).map { _ =>
      if (spark != null) Session.stop(spark)
      Session.delete(inputs)
      val t0 = System.nanoTime()
      spark = Session.start(o)
      wl = make(o, inputs)
      wl.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val probes = if (o.trace) Some(new Probes(Workloads.isFused)) else None
    probes.foreach(_.attach(spark))
    val before = probes.map(_.snapshot(spark))
    val first = pass(spark, wl, probes)
    val afterFirst = probes.map(_.snapshot(spark))

    // Timed passes. Traced runs alternate untraced and traced passes so
    // both see the same drift; the listeners stay registered only for the
    // traced ones.
    val untraced = mutable.ArrayBuffer[Double]()
    val untracedQueries = mutable.ArrayBuffer[Map[String, Double]]()
    val untracedCost = mutable.ArrayBuffer[Seq[Double]]()
    val traced = mutable.ArrayBuffer[(Double, Map[String, Double])]()
    val deltas = mutable.ArrayBuffer[Map[String, Long]]()
    probes.foreach(_.detach(spark))
    // Warm-up passes run and are checked like any other, but stay out of
    // pass_s: right after the first pass the JIT is still compiling the
    // session's hot paths.
    (1 to Harness.WarmupPasses).foreach(_ => pass(spark, wl, None))
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // At least MinPasses passes (the first ones after the first pass are
    // still warming up, so the median needs several), then more while another
    // fits into --seconds. The estimate is NaN once every pass failed,
    // which ends the loop.
    def estimate = Probes.median(untraced.toSeq ++ traced.map(_._1))
    var i = 0
    while (i < Harness.MinPasses && !(i > 0 && estimate.isNaN) || elapsed + estimate <= o.seconds) {
      val doTrace = probes.isDefined && i % 2 == 1
      if (doTrace) {
        val p = probes.get
        p.attach(spark)
        val s0 = p.snapshot(spark)
        val r = pass(spark, wl, probes)
        val s1 = p.snapshot(spark)
        p.detach(spark)
        r.foreach { case (t, qs) => traced += ((t, qs)); deltas += s1.map { case (k, v) => k -> (v - s0(k)) } }
      } else {
        val (g0, c0) = (Probes.gcMs, Probes.cpuS)
        pass(spark, wl, None).foreach { r => untraced += r._1; untracedQueries += r._2 }
        untracedCost += Seq((Probes.gcMs - g0) / 1000.0, Probes.cpuS - c0)
      }
      i += 1
    }
    val timedS = elapsed

    // Checks, outside the timed region.
    val c0 = System.nanoTime()
    val bad = try wl.check(spark, answers.view.mapValues(_.toSeq).toMap)
    catch { case NonFatal(e) => Map("check" -> s"${e.getClass.getName}: ${e.getMessage}") }
    val wrong = bad.keys.toSeq.map(n => answers.get(n).map(_.size.toLong).getOrElse(1L)).sum
    val failed = thrown.values.map(_.toLong).sum + wrong
    bad.foreach { case (n, why) => errors += s"$n: wrong result: $why" }

    val passS = Probes.median(untraced.toSeq)
    val firstS = first.map(_._1).getOrElse(Double.NaN)
    val metrics = mutable.ArrayBuffer[Metric]()
    var layers = Seq.empty[Metric]
    var queryS = Map.empty[String, Double]
    val facts = try wl.facts(spark) catch { case NonFatal(e) => Seq("facts_error" -> e.toString) }
    val checkS = (System.nanoTime() - c0) / 1e9
    if (!o.trace) {
      metrics += Metric("setup_s", Probes.median(setupS), "s")
      metrics += Metric("first_pass_s", firstS, "s")
      metrics += Metric("pass_s", passS, "s")
      metrics += Metric("rows_per_s", wl.rowsPerPass(spark) / passS, "1/s")
      metrics += Metric("json_mb_per_s", wl.jsonBytesPerPass(spark) / 1e6 / passS, "MB/s")
      metrics += Metric("bytes_per_json_byte", wl.bytesPerJsonByte(spark), "ratio")
      metrics += Metric("peak_rss_mb", Probes.peakRssMb, "MB")
    } else {
      val p = probes.get
      val n = deltas.size.max(1).toDouble
      def per(k: String): Double = deltas.map(_(k)).sum / n
      val tracedS = Probes.median(traced.map(_._1).toSeq)
      val firstDelta = afterFirst.get.map { case (k, v) => k -> (v - before.get(k)) }
      val taskS = per("task_ms") / 1000.0
      metrics += Metric("trace_overhead", tracedS / passS - 1, "ratio")
      metrics += Metric("spark.planning_ms", firstDelta("planning_ms").toDouble, "ms")
      metrics += Metric("spark.codegen_ms", firstDelta("codegen_ns") / 1e6, "ms")
      metrics += Metric("spark.jobs", per("jobs"), "count")
      metrics += Metric("spark.tasks", per("tasks"), "count")
      metrics += Metric("spark.task_s", taskS, "s")
      metrics += Metric("spark.parallelism", taskS / tracedS, "ratio")
      metrics += Metric("spark.idle_core_s", tracedS * o.cores - taskS, "s")
      metrics += Metric("spark.shuffle_read_mb", per("shuffle_read") / 1e6, "MB")
      metrics += Metric("spark.shuffle_write_mb", per("shuffle_write") / 1e6, "MB")
      metrics += Metric("spark.spill_mb", per("spill") / 1e6, "MB")
      metrics += Metric("spark.gc_s", per("gc_ms") / 1000.0, "s")
      metrics ++= CodecProbe.run(o.seed)
      queryS = traced.flatMap(_._2.toSeq).groupBy(_._1).view
        .mapValues(xs => Probes.median(xs.map(_._2).toSeq)).toMap
      layers = try wl.layers(spark, queryS, per, p)
        catch { case NonFatal(e) => errors += s"layers: $e"; Nil }
    }
    val spans = probes.map(_.spans.toArray(new Array[Span](0)).toSeq.sortBy(_.startMs)).getOrElse(Nil)
    val record = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "cores" -> o.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "loadavg_start" -> loadStart, "loadavg_end" -> Probes.loadavg,
      "setup_s_samples" -> setupS, "first_pass_s" -> firstS,
      "query_s_first_pass" -> first.map(_._2).getOrElse(Map.empty),
      "warmup_passes" -> Harness.WarmupPasses, "pass_s_samples" -> untraced.toSeq, "pass_s_sample_count" -> untraced.size,
      "query_s_passes" -> untracedQueries.toSeq,
      "gc_s_and_cpu_s_passes" -> untracedCost.toSeq,
      "traced_pass_s_samples" -> traced.map(_._1).toSeq,
      "timed_region_s" -> timedS, "check_s" -> checkS, "attempted" -> attempted, "failed" -> failed,
      "failed_share" -> failed.toDouble / attempted.max(1L),
      "errors" -> errors.toSeq, "inputs" -> Json.Obj(facts),
      "query_s_traced" -> queryS,
      "layers" -> Json.Obj(layers.map(m => m.name -> Json.obj("value" -> m.value, "unit" -> m.unit))),
      "spans" -> spans.map(Probes.spanJson))
    Session.stop(spark)
    val correct = failed == 0 && !metrics.exists(m => m.value.isNaN || m.value.isInfinite)
    (correct, attempted, failed, metrics.toSeq, record)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    if (args.containsSlice(Seq("--mode", "oracle"))) return oracleDump(args)
    val o = Opts.parse(args)
    o.out.getParentFile.mkdirs()
    val (correct, attempted, failed, metrics, record) =
      try new Harness(o, Workloads.make).run()
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          (false, 1L, 1L, Nil, Json.obj("error" -> e.toString))
      }
    val line = Json.render(Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Obj(metrics.map(m => m.name -> Json.obj("value" -> m.value, "unit" -> m.unit))),
      "record" -> record))
    java.nio.file.Files.write(o.out.toPath, (line + "\n").getBytes("UTF-8"))
    System.exit(if (correct) 0 else 1)
  }

  /** Generate the lane tables under `--out`, write every lane's Spark
    * output and its DuckDB oracle SQL next to them (see oracle.py). */
  private def oracleDump(args: Array[String]): Unit = {
    val o = Opts.parse(args.filterNot(Set("--mode", "oracle")) ++ Array("--workload", "lane_mix"))
    val spark = Session.start(o)
    Session.delete(o.out)
    val tables = new File(o.out, "tables")
    LaneTables.write(spark, tables)
    val sqls = LaneMix.lanes.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))
    sqls.foreach { case (n, _) =>
      graft.SparkEntry.queries(n)(spark, tables.getPath).write.mode("overwrite")
        .parquet(new File(new File(o.out, "lane_out"), n).getPath)
    }
    java.nio.file.Files.write(new File(o.out, "oracle_sql.json").toPath,
      Json.render(sqls.toMap).getBytes("UTF-8"))
    Session.stop(spark)
  }
}
