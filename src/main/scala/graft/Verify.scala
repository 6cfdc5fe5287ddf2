package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare in tools/check.py. A failing lane
  * does not stop the dump; the run exits 1 naming every failed lane. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = run(spark, sfDir, outDir, SparkEntry.queries.toSeq)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Write every lane's result and oracle_sql.json under `outDir`;
    * returns (lane, error class) for each lane that failed. */
  def run(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      lanes: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val failed = lanes.flatMap { case (name, fn) =>
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
      catch { case e: Throwable =>
        val cls = Bench.errorClass(e)
        System.err.println(s"[verify] $name failed: $cls: ${e.getMessage}")
        Some(name -> cls)
      }
      // drop blocks persisted inside the query plan — cached
      // intermediates must not accumulate across the 100+-query session
      finally {
        graft.operators.Staged.releaseAll()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} lane(s) failed: " +
        failed.map { case (n, c) => s"$n ($c)" }.mkString(", "))
    failed
  }
}
