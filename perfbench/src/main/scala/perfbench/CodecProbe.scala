package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.variant.{MetadataView, VariantJsonCodec, VariantView}

/** The `variant` layer on its own: single-thread direct calls into the
  * codec's public functions over a seeded sample of the corpus, with no
  * Spark in the loop. */
object CodecProbe {
  private val LookupKeys = Array("id", "event", "val", "country", "user").map(_.getBytes(UTF_8))

  /** Median of `reps` rates (units per second) after one warm-up call. */
  private def rate(reps: Int)(work: () => Long): Double = {
    work()
    Probes.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val units = work()
      units / ((System.nanoTime() - t0) / 1e9)
    })
  }

  private def encode(xs: Array[Array[Byte]]): Long = {
    var n = 0L
    xs.foreach { b => VariantJsonCodec.fromJsonBytes(b, 0, b.length); n += b.length }
    n
  }

  def run(seed: Long, rows: Int = 20000, reps: Int = 5): Seq[Metric] = {
    val docs = (0 until rows).map(i => Corpus.doc(seed, i.toLong))
    val all = docs.map(_.json.getBytes(UTF_8)).toArray
    val flat = docs.indices.filter(docs(_).kind == 0).map(all).toArray
    val nested = docs.indices.filter(docs(_).kind == 2).map(all).toArray
    val encoded = all.map(b => VariantJsonCodec.fromJsonBytes(b, 0, b.length))
    val metaBytes = encoded.map(_._1.length.toLong).sum
    val valueBytes = encoded.map(_._2.length.toLong).sum
    val lookups = encoded.length.toLong * LookupKeys.length
    val lookupsPerS = rate(reps) { () =>
      var hits = 0L
      encoded.foreach { case (m, v) =>
        val meta = new MetadataView(m, 0)
        val obj = new VariantView(v, 0).getObject
        LookupKeys.foreach { k =>
          val id = meta.findKey(k)
          if (id >= 0 && obj.getField(id) != null) hits += 1
        }
      }
      if (hits == 0) throw new IllegalStateException("no key found in the sample")
      lookups
    }
    Seq(
      Metric("variant.encode_flat_mb_per_s", rate(reps)(() => encode(flat)) / 1e6, "MB/s"),
      Metric("variant.encode_nested_mb_per_s", rate(reps)(() => encode(nested)) / 1e6, "MB/s"),
      Metric("variant.encode_rows_per_s", rate(reps) { () => encode(all); all.length.toLong }, "1/s"),
      Metric("variant.decode_mb_per_s", rate(reps) { () =>
        encoded.foreach { case (m, v) => VariantJsonCodec.toJsonString(m, v) }
        metaBytes + valueBytes
      } / 1e6, "MB/s"),
      Metric("variant.lookup_ns", 1e9 / lookupsPerS, "ns"),
      Metric("variant.meta_bytes_per_row", metaBytes.toDouble / rows, "B"),
      Metric("variant.value_bytes_per_row", valueBytes.toDouble / rows, "B"))
  }
}
