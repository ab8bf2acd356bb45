package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** What the generator's model says about a corpus: the answer to every
  * `variant_query` question, the digest of the canonical texts, and the
  * input properties a run records. Built from the seed alone, in one
  * Spark job over the generator (never through the codec), outside the
  * timed region. Answers are rows spelled as `Row.mkString("|")`. */
final class Model extends Serializable {
  val counts: mutable.Map[String, Long] = mutable.Map[String, Long]().withDefaultValue(0L)
  var rows, jsonBytes, repeats, bigInts, canonXor, canonLen, items, qty = 0L

  private def add(k: String, n: Long = 1L): Unit = counts(k) += n

  def +=(d: Corpus.Doc, prevShape: Long): Unit = {
    rows += 1
    jsonBytes += d.json.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    if (d.shape == prevShape) repeats += 1
    if (d.bigInt) bigInts += 1
    // xxhash64(id, canon) as Spark computes it: the long hash seeds the string's
    canonXor ^= XxHash64Function.hash(UTF8String.fromString(d.canon), StringType,
      XxHash64Function.hash(d.id, LongType, 42L))
    canonLen += d.canon.codePointCount(0, d.canon.length)
    items += d.nItems
    qty += d.sumQty
    add(s"event\t${d.event}"); add(s"event_id\t${d.event}", d.id)
    add(s"city\t${d.city}")
    add(s"type\t${d.valType}")
    add(s"size\t${d.nKeys}")
    d.keys.foreach(k => add(s"key\t$k"))
    d.userKeys.foreach(k => add(s"user\t$k"))
    if (d.event == "purchase") { add(s"country\t${d.country}"); add(s"country_id\t${d.country}", d.id) }
    add(s"depth\t${d.depth}")
    add(s"kind\t${Corpus.Kinds(d.kind)}")
  }

  def ++=(o: Model): Model = {
    o.counts.foreach { case (k, n) => add(k, n) }
    rows += o.rows; jsonBytes += o.jsonBytes; repeats += o.repeats; bigInts += o.bigInts
    canonXor ^= o.canonXor; canonLen += o.canonLen; items += o.items; qty += o.qty
    this
  }

  private def group(prefix: String): Seq[(String, Long)] =
    counts.toSeq.collect { case (k, n) if k.startsWith(prefix + "\t") => k.drop(prefix.length + 1) -> n }

  private def rowsOf(prefix: String): Seq[String] = group(prefix).map { case (k, n) => s"$k|$n" }.sorted

  private def withSum(prefix: String): Seq[String] =
    group(prefix).map { case (k, n) => s"$k|$n|${counts(s"${prefix}_id\t$k")}" }.sorted

  def canonDigest: Seq[String] = Seq(s"$rows|$canonXor|$canonLen")

  /** Expected answer of each `variant_query` query, keyed by query name. */
  def answers: Map[String, Seq[String]] = {
    val base = Map(
      "get_depth1" -> withSum("event"),
      "get_depth3" -> rowsOf("city"),
      "get_all_items" -> Seq(s"$items|$qty"),
      "typeof_hist" -> rowsOf("type"),
      "size_hist" -> rowsOf("size"),
      "keys_hist" -> rowsOf("key"),
      "explode_user" -> rowsOf("user"),
      "filter_group" -> withSum("country"),
      "to_json" -> canonDigest)
    base ++ Seq("get_depth1", "get_depth3", "get_all_items").map(k => ("raw_" + k) -> base(k))
  }

  def facts: Seq[(String, Any)] = Seq(
    "rows" -> rows, "json_bytes" -> jsonBytes,
    "shape_repeat_share" -> repeats.toDouble / rows,
    "depth_histogram" -> group("depth").toMap, "kind_histogram" -> group("kind").toMap,
    "long_int_share" -> bigInts.toDouble / rows)
}

object Model {
  def of(spark: SparkSession, seed: Long, rows: Long, parts: Int): Model =
    spark.sparkContext.range(0L, rows, 1L, parts).mapPartitions { ids =>
      val m = new Model
      var prev = Long.MinValue
      ids.foreach { i =>
        if (prev == Long.MinValue && i > 0) prev = Corpus.doc(seed, i - 1).shape
        val d = Corpus.doc(seed, i)
        m += (d, prev)
        prev = d.shape
      }
      Iterator(m)
    }.reduce(_ ++= _)
}
