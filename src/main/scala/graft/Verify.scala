package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Failures are
  * recorded explicitly in `errors.json` (and stderr) instead of silently
  * dropping the query from the output set.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg (dev iteration only): run just the queries
    // whose name contains the substring; the driver always passes two
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[String] = args.drop(2).headOption
    val spark = GraftSession.local()
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    var errors = Map.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(name.contains) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          errors += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[verify] FAILED $name: ${e.getMessage}")
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(k.contains) }))
    Files.writeString(Paths.get(s"$outDir/errors.json"), Json.obj(errors))
    // failures are reported via errors.json + stderr; exit 0 so the driver
    // still grades the queries that did produce output
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed: " +
        errors.keys.toSeq.sorted.mkString(", "))
    spark.stop()
  }
}
