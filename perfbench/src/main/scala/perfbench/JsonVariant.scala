package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.{VariantFunctions => vf}

object Workloads {
  val names: Seq[String] = Seq("json_variant", "lane_mix")

  def make(o: Opts, inputs: File): Workload = o.workload match {
    case "json_variant" => new JsonVariant(o, inputs)
    case "lane_mix" => new LaneMix(o, inputs)
    case w => throw new IllegalArgumentException(s"unknown workload $w (known: ${names.mkString(", ")})")
  }

  private val fusedNodes = Set("JsonPathExtract", "JsonGetAllFused", "JsonKeys", "JsonSize",
    "JsonTypeOf", "JsonExplodeKV")

  /** True when the optimized plan holds one of the fused JSON nodes that
    * `VariantGetFusionRule` puts in place of parse-then-extract. */
  def isFused(qe: QueryExecution): Boolean =
    qe.optimizedPlan.exists(_.expressions.exists(_.exists(e => fusedNodes(e.getClass.getSimpleName))))

  def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.mkString("|")).sorted
}

/** The codec's write side and read side over one seeded corpus.
  *
  * A pass first ingests the JSON column with `variant_from_json`, once
  * into a noop sink and once into variant parquet. It then reads that
  * parquet back: typed `variant_get` at depth 1 and 3, `variant_get_all`
  * over arrays, type, size and key histograms, `variant_explode`, a
  * filter and group-by on an extracted key and `variant_to_json`; and
  * asks the depth-1, depth-3 and array paths of the raw JSON column,
  * which `VariantGetFusionRule` sends through `JsonPathExtract`. So an
  * encoder change that costs readers shows in the same pass. */
final class JsonVariant(o: Opts, inputs: File) extends Workload {
  private val jsonDir = new File(inputs, "json").getPath
  private val variantDir = new File(inputs, "variant").getPath
  private val files: Int = o.cores * 4

  /** Generate the corpus and write its JSON text as `files` parquet files.
    * The corpus is small enough that Spark would pack it into one split
    * per core, where one slow core stalls the stage; scans are split four
    * ways per core instead, as a corpus of a few hundred MB would be. */
  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    spark.conf.set("spark.sql.files.openCostInBytes", "1m")
    spark.conf.set("spark.sql.files.minPartitionNum", (o.cores * 4).toString)
    val seed = o.seed
    spark.range(0, o.rows, 1, files).as[Long]
      .map(i => (i, Corpus.doc(seed, i).json)).toDF("id", "json")
      .write.mode("overwrite").parquet(jsonDir)
  }

  private def json(s: SparkSession): DataFrame = s.read.parquet(jsonDir)
  private def parsed(s: SparkSession): DataFrame =
    json(s).select(col("id"), vf.variant_from_json(col("json")).as("v"))
  private def v(s: SparkSession): DataFrame = s.read.parquet(variantDir)

  private def getters(src: SparkSession => DataFrame, prefix: String): Seq[Query] = Seq(
    Query(prefix + "get_depth1", s => src(s)
      .groupBy(vf.variant_get(col("v"), "$.event", "string").as("event"))
      .agg(count(lit(1)), sum(vf.variant_get(col("v"), "$.id", "bigint"))).collect().toSeq),
    Query(prefix + "get_depth3", s => src(s)
      .groupBy(vf.variant_get(col("v"), "$.user.geo.city", "string").as("city"))
      .count().collect().toSeq),
    Query(prefix + "get_all_items", s => src(s)
      .select(explode(vf.variant_get_all(col("v"), "$.items[*].qty", LongType)).as("q"))
      .agg(count(lit(1)), sum(col("q"))).collect().toSeq))

  val queries: Seq[Query] = Seq(
    Query("ingest_noop", s => { parsed(s).write.mode("overwrite").format("noop").save(); null }),
    Query("ingest_parquet", s => { parsed(s).write.mode("overwrite").parquet(variantDir); null })) ++
    getters(v, "") ++ Seq(
    Query("typeof_hist", s => v(s)
      .groupBy(vf.variant_typeof(vf.variant_get(col("v"), "$.val")).as("t"))
      .count().collect().toSeq),
    Query("size_hist", s => v(s).groupBy(vf.variant_size(col("v")).as("n")).count().collect().toSeq),
    Query("keys_hist", s => v(s).select(explode(vf.variant_keys(col("v"))).as("k"))
      .groupBy(col("k")).count().collect().toSeq),
    Query("explode_user", s => v(s).select(vf.variant_explode(vf.variant_get(col("v"), "$.user")))
      .groupBy(col("key")).count().collect().toSeq),
    Query("filter_group", s => v(s)
      .filter(vf.variant_get(col("v"), "$.event", "string") === "purchase")
      .groupBy(vf.variant_get(col("v"), "$.country", "string").as("country"))
      .agg(count(lit(1)), sum(vf.variant_get(col("v"), "$.id", "bigint"))).collect().toSeq),
    Query("to_json", s => jsonDigest(v(s)))) ++
    getters(parsed, "raw_")

  private val ingests = Set("ingest_noop", "ingest_parquet")

  /** Count, order-free hash and length of `variant_to_json` over a variant
    * column, to compare with [[Model.canonDigest]]. */
  private def jsonDigest(df: DataFrame): Seq[Row] = {
    val t = df.select(col("id"), vf.variant_to_json(col("v")).as("t"))
    t.agg(count(lit(1)), bit_xor(xxhash64(col("id"), col("t"))), sum(length(col("t")))).collect().toSeq
  }

  /** The generator's model of the corpus (see [[Model]]), built once. */
  private var modelMemo: Model = _
  private def model(spark: SparkSession): Model = {
    if (modelMemo == null) modelMemo = Model.of(spark, o.seed, o.rows, files)
    modelMemo
  }

  /** Every read answer must equal the model's; the parquet the last pass
    * ingested must print back as the canonical text of every document
    * (the noop ingest runs the same plan and keeps nothing to check). */
  def check(spark: SparkSession, answers: Map[String, Seq[Any]]): Map[String, String] = {
    val want = model(spark).answers
    val reads = answers.filter(a => !ingests(a._1)).flatMap { case (name, runs) =>
      val bad = runs.map(r => Workloads.sorted(r.asInstanceOf[Seq[Row]])).filter(_ != want(name))
      bad.headOption.map(got => name -> s"got ${got.take(5).mkString(";")} want ${want(name).take(5).mkString(";")}")
    }
    val got = Workloads.sorted(jsonDigest(v(spark)))
    val ingest = if (got == model(spark).canonDigest) Map.empty[String, String]
      else ingests.map(_ -> s"variant_to_json digest $got, canonical ${model(spark).canonDigest}").toMap
    reads ++ ingest
  }

  def facts(spark: SparkSession): Seq[(String, Any)] = model(spark).facts ++ Seq(
    "parquet_files" -> files, "scan_splits" -> json(spark).rdd.getNumPartitions)

  def rowsPerPass(spark: SparkSession): Double = o.rows.toDouble * queries.size

  /** The two ingests and the three raw-JSON reads parse the whole corpus. */
  def jsonBytesPerPass(spark: SparkSession): Double =
    model(spark).jsonBytes.toDouble * queries.count(q => ingests(q.name) || q.name.startsWith("raw_"))

  def bytesPerJsonByte(spark: SparkSession): Double =
    v(spark).agg(sum(octet_length(col("v.metadata")) + octet_length(col("v.value")))).head().getLong(0)
      .toDouble / model(spark).jsonBytes

  def layers(spark: SparkSession, queryS: Map[String, Double], perPass: String => Double,
             probes: Probes): Seq[Metric] = {
    // codec-only time at nproc-way: the encoder timed inside the tasks,
    // summed and spread over the cores, against the noop ingest query
    val codecNs = json(spark).rdd.mapPartitions { rows =>
      var ns = 0L
      rows.foreach { r =>
        val b = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val t0 = System.nanoTime()
        graft.variant.VariantJsonCodec.fromJsonBytes(b, 0, b.length)
        ns += System.nanoTime() - t0
      }
      Iterator(ns)
    }.sum()
    // scan floors: the variant and the JSON column read with nothing done
    def floor(df: => DataFrame): Double = Probes.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    })
    val vFloor = floor(v(spark))
    val jFloor = floor(json(spark))
    val exprS = queryS.collect {
      case (n, t) if n.startsWith("raw_") => t - jFloor
      case (n, t) if !ingests(n) => t - vFloor
    }.sum
    Seq(
      Metric("variant.encode_share", codecNs / 1e9 / o.cores / queryS("ingest_noop"), "ratio"),
      Metric("spark.parquet_write_s", queryS("ingest_parquet") - queryS("ingest_noop"), "s"),
      Metric("functions.fused_queries", perPass("fused"), "count"),
      Metric("functions.scan_floor_s", vFloor, "s"),
      Metric("functions.json_scan_floor_s", jFloor, "s"),
      Metric("functions.expr_s", exprS, "s"))
  }
}
