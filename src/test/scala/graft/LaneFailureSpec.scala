package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

/** Failures are loud: a planted lane that throws inside its job must be
  * named, with its error class, by both Verify and Bench, while every
  * other lane's output is still written. Each main exits 1 exactly
  * when the list/map checked here is non-empty. */
class LaneFailureSpec extends SparkSuite {

  private val planted = "java.lang.IllegalStateException"

  private val boom = udf((x: Long) => if (x == 2) throw new IllegalStateException("planted") else x)

  private val lanes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q_ok" -> ((s: SparkSession, _: String) => s.range(3).toDF("x")),
    "q_planted" -> ((s: SparkSession, _: String) => s.range(3).select(boom(col("id")).as("x"))))

  test("Verify writes the other lanes and oracle_sql.json, then names the failed lane") {
    val out = java.nio.file.Files.createTempDirectory("verify_planted").toFile
    try {
      assert(Verify.run(spark, sf0001, out.getPath, lanes) == Seq("q_planted" -> planted))
      assert(new java.io.File(out, "q_ok/_SUCCESS").exists)
      assert(new java.io.File(out, "oracle_sql.json").exists)
      assert(!new java.io.File(out, "q_planted/_SUCCESS").exists)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
  }

  test("Bench names the failed lane in its errors map and in the JSON line") {
    val (line, errors) = Bench.run(spark, sf0001, lanes, loadGateMax = Double.MaxValue)
    assert(errors == Map("q_planted" -> planted))
    assert(line.contains(s""""errors":{"q_planted":"$planted"}"""), line)
    assert(line.contains(""""q_planted":-1.0"""), line)
  }
}
