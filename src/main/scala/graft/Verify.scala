package graft
import org.apache.spark.sql.SparkSession
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // extra args = run only those queries (iteration aid; the driver
    // passes exactly two args and gets the full dump)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // Tables.session: installs GraftExtensions (native functions some
    // queries need) + the nanosAsLong parquet flag
    val spark = Tables.session("graft-verify", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output from a previous run — a leftover result
        // would silently pass the oracle compare for a now-broken query
        val dir = Paths.get(outDir, name)
        if (Files.exists(dir)) {
          Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
        }
      }
    }
    if (failed > 0) System.err.println(s"[verify] $failed queries FAILED to run")
    // json4s escapes quotes, backslashes and ALL control chars — a tab or
    // CR in an oracle query must not make the file unreadable as JSON
    val json = JsonMethods.compact(JObject(
      SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) }))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
