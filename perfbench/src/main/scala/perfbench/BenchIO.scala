package perfbench

import org.apache.spark.sql.DataFrame

import graft.TableIO

/** The benchmark's [[TableIO]] decorator. It routes each table to its own
  * IO, because `JdbcIO` applies one `partition` and one `options` map to
  * every table it serves, and it records the `io.read`, `io.stage` and
  * `io.commit` spans. The first `stage` call also ends the
  * `anonymizer.plan` span that the workload opens at `run()` entry.
  */
final class BenchIO(route: String => TableIO, tracer: Tracer) extends TableIO {
  def read(table: String): DataFrame =
    tracer.span("io.read")(route(table).read(table))
  def write(table: String, df: DataFrame): Unit = {
    stage(table, df); commit(table)
  }
  override def stage(table: String, df: DataFrame): Unit = {
    tracer.close("anonymizer.plan")
    tracer.span("io.stage")(route(table).stage(table, df))
  }
  override def commit(table: String): Unit =
    tracer.span("io.commit")(route(table).commit(table))
}
