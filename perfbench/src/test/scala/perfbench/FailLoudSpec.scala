package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A query that throws or answers wrong is reported as failed and gets
  * no time. */
class FailLoudSpec extends AnyFunSuite {
  private def opts(work: File) = Opts("fail_loud", 1L, 1.0, trace = false, work,
    new File(work, "result.json"), 2, 1, 1000L, new File("."))

  /** One query reads a table the set-up never wrote; another answers wrong. */
  private final class Broken(inputs: File, wrongAnswer: Boolean) extends Workload {
    def setup(spark: SparkSession): Unit = spark.range(10).write.parquet(new File(inputs, "t").getPath)
    val queries: Seq[Query] = Seq(
      Query("count_t", s => s.read.parquet(new File(inputs, "t").getPath).count()),
      Query(if (wrongAnswer) "count_wrong" else "count_missing", s =>
        if (wrongAnswer) s.read.parquet(new File(inputs, "t").getPath).count()
        else s.read.parquet(new File(inputs, "missing").getPath).count()))
    def check(spark: SparkSession, answers: Map[String, Seq[Any]]): Map[String, String] =
      answers.collect { case (n, as) if as.exists(_ != 10L) || n == "count_wrong" => n -> "want 10" }
    def facts(spark: SparkSession): Seq[(String, Any)] = Nil
    def rowsPerPass(spark: SparkSession): Double = 20
    def jsonBytesPerPass(spark: SparkSession): Double = 1
    def bytesPerJsonByte(spark: SparkSession): Double = 1
    def layers(spark: SparkSession, q: Map[String, Double], p: String => Double, pr: Probes): Seq[Metric] = Nil
  }

  private def run(wrongAnswer: Boolean) = {
    val work = Files.createTempDirectory("perfbench_fail").toFile
    try new Harness(opts(work), (_, in) => new Broken(in, wrongAnswer)).run()
    finally Session.delete(work)
  }

  test("a missing input fails the query, the run, and takes the pass time away") {
    val (correct, attempted, failed, metrics, record) = run(wrongAnswer = false)
    assert(!correct)
    assert(attempted == 6 && failed == 3) // first, warm-up and one timed pass
    assert(metrics.find(_.name == "pass_s").get.value.isNaN)
    assert(metrics.find(_.name == "first_pass_s").get.value.isNaN)
    assert(Json.render(record).contains("count_missing: org.apache.spark.sql.AnalysisException"))
  }

  test("a wrong answer is counted as failed") {
    val (correct, attempted, failed, metrics, record) = run(wrongAnswer = true)
    assert(!correct)
    assert(failed == attempted / 2)
    assert(Json.render(record).contains("count_wrong: wrong result: want 10"))
  }
}
