package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession recipe shared by the harness mains
  * (Bench, Verify, ProfileQuery, ExplainQuery, ScaleRehearsal) and the
  * test suite, plus the cache sweep they run between queries.
  */
object GraftSession {

  /** Cores to run on: `SPARK_GRAFT_CPUS`, else every available core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, a UTC session,
    * the graft planner extensions and no UI; log level WARN.
    */
  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // events.parquet carries TIMESTAMP(NANOS); read as raw long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops the SQL cache and every persistent RDD. `clearCache` alone
    * misses `localCheckpoint` blocks (LSH candidate frames, the
    * connected-components loop), which register as persistent RDDs.
    * Run between queries so no query reuses another's materialisation.
    */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
