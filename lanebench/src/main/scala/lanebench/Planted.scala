package lanebench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lanes that exist only for the benchmark's self-tests (selected with
  * `run.py --lanes`); no workload names them. */
object Planted {
  private def hashes(spark: SparkSession, parts: Int): DataFrame =
    spark.range(0L, 1500000L, 1L, parts).selectExpr("sha2(cast(id AS STRING), 512) AS h")

  val lanes: Map[String, LaneBench.Lane] = Map(
    // fails at evaluation, after its scan has started
    "planted_fail" -> ((s: SparkSession, _: String) => s.range(0L, 1000L).selectExpr("raise_error('planted lane failure') AS x")),
    // all of its work in a single task
    "planted_narrow" -> ((s: SparkSession, _: String) => hashes(s, 1)),
    // the same work spread over the shuffle width
    "planted_wide" -> ((s: SparkSession, _: String) => hashes(s, s.conf.get("spark.sql.shuffle.partitions").toInt))
  )
}
