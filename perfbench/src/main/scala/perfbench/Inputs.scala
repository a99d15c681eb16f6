package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs shaped like the engine's TPC-H-style fixtures
  * (customer, orders, lineitem). The same seed
  * gives the same rows whatever the partitioning: every random column is
  * a hash of (seed, column tag, row id).
  */
object Inputs {
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  // 1995-01-01 00:00:00 UTC and the 2404-day span of the fixtures' dates
  private val Epoch1995 = 788918400L
  private val DateSpanDays = 2404

  /** Uniform double in [0, 1) from (seed, tag, key). */
  private def u(seed: Long, tag: String, key: Column): Column =
    pmod(xxhash64(lit(seed), lit(tag), key), lit(1L << 31)).cast("double") /
      lit((1L << 31).toDouble)
  private def below(seed: Long, tag: String, key: Column, n: Long): Column =
    floor(u(seed, tag, key) * n).cast("long")
  private def pick(seed: Long, tag: String, key: Column,
      pool: Seq[String]): Column =
    element_at(array(pool.map(lit): _*),
      (below(seed, tag, key, pool.size.toLong) + 1).cast("int"))
  private def date(seed: Long, tag: String, key: Column): Column =
    timestamp_seconds(lit(Epoch1995) +
      below(seed, tag, key, DateSpanDays.toLong) * 86400L)

  /** Seeded shift of the customer-name numbers. A multiple of 10^5, so
    * the low digits, and with them the near-duplicate structure the
    * linkage operators see, are the same for every seed below 10^5 rows.
    */
  private def nameOffset(seed: Long): Long =
    100000L * Math.floorMod(new java.util.Random(seed).nextLong(), 9000L)

  def customer(spark: SparkSession, seed: Long, n: Long,
      files: Int): DataFrame = {
    val id = col("id")
    spark.range(0, n, 1, files).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id + nameOffset(seed)).as("c_name"),
      below(seed, "c_nat", id, 25).cast("int").as("c_nationkey"),
      round(u(seed, "c_bal", id) * 10999.98 - 999.99, 2).as("c_acctbal"),
      pick(seed, "c_seg", id, Segments).as("c_mktsegment"))
  }

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long,
      files: Int): DataFrame = {
    val id = col("id")
    spark.range(0, n, 1, files).select(
      id.as("o_orderkey"),
      below(seed, "o_cust", id, customers).as("o_custkey"),
      pick(seed, "o_st", id, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(seed, "o_tp", id) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      date(seed, "o_date", id).as("o_orderdate"),
      pick(seed, "o_pri", id, Priorities).as("o_orderpriority"))
  }

  def lineitem(spark: SparkSession, seed: Long, n: Long, orders: Long,
      files: Int): DataFrame = {
    val id = col("id")
    spark.range(0, n, 1, files).select(
      below(seed, "l_ok", id, orders).as("l_orderkey"),
      below(seed, "l_pk", id, 20000).as("l_partkey"),
      below(seed, "l_sk", id, 1000).as("l_suppkey"),
      (pmod(id, lit(7L)) + 1).cast("int").as("l_linenumber"),
      (below(seed, "l_q", id, 50) + 1).cast("double").as("l_quantity"),
      round(u(seed, "l_ep", id) * 100000.0, 2).as("l_extendedprice"),
      (below(seed, "l_d", id, 11).cast("double") / 100).as("l_discount"),
      (below(seed, "l_t", id, 9).cast("double") / 100).as("l_tax"),
      pick(seed, "l_rf", id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, "l_ls", id, Seq("F", "O")).as("l_linestatus"),
      date(seed, "l_sd", id).as("l_shipdate"))
  }
}
