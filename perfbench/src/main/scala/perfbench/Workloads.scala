package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.StreamConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Anonymizer, JdbcCommitMode, JdbcIO, JdbcPartitioning, ParquetIO,
  SparkEntry, TableIO}
import graft.blueprint.{Blueprint, MaskCompiler}

/** What the measuring loop in [[Main]] needs from a workload. */
abstract class Workload {
  /** Writes the seeded inputs. Set-up calls it several times and reports
    * the median, so it must overwrite what an earlier call wrote.
    */
  def generate(): Unit
  /** One-off set-up after the inputs exist. */
  def prepare(): Unit = ()
  /** Untimed passes before measuring. Pass walls keep falling for about
    * ten passes in a fresh JVM (JIT and codegen settling); after only two
    * warm-up passes, runs spread by a fifth from one JVM to the next.
    */
  def warmups: Int = 7
  /** Source rows one pass reads. */
  def sourceRows: Long
  /** Bytes the inputs take where the program reads them. */
  def inputBytes: Long
  /** Bytes of the workload's output as parquet files. */
  def sinkBytes: Long
  /** Puts the pristine inputs back; never timed. */
  def restore(): Unit
  /** One timed pass. */
  def pass(tracer: Tracer): Unit
  /** Failed checks of the last pass's output; empty when it is correct. */
  def check(): Seq[String]
  /** Traced runs only, before a pass: probe spans outside the pass. */
  def probe(tracer: Tracer): Unit = ()
  /** Traced runs only, once after the measured passes: per-layer counts
    * over the last pass's output.
    */
  def tracedCounts(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Workloads {
  val Linkage = Seq("q_fuzzy_join2")
  val Names = Seq("anonymize_parquet", "anonymize_jdbc", "pipeline_linkage")

  def apply(name: String, spark: SparkSession, seed: Long, work: Path,
      cores: Int): Workload = name match {
    case "anonymize_parquet" =>
      new AnonymizeParquet(spark, seed, work, customers = 7500, files = cores)
    case "anonymize_jdbc" =>
      new AnonymizeJdbc(spark, seed, work, customers = 3000, cores = cores)
    case "pipeline_linkage" =>
      new Pipeline(spark, seed, work, Linkage, customers = 1000)
    case other =>
      throw new IllegalArgumentException(
        s"unknown workload '$other'; known: ${Names.mkString(", ")}")
  }

  /** Order-insensitive content hash term of one row over `cols`. */
  def rowHash(cols: Seq[String]): Column =
    if (cols.isEmpty) lit(0).cast("decimal(20,0)")
    else xxhash64(cols.map(col): _*).cast("decimal(20,0)")

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).toScala(Seq).filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).toScala(Seq).reverse.foreach(Files.delete)

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).toScala(Seq).foreach { f =>
      val dst = to.resolve(from.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst)
    }
}

/** One table of an anonymization workload: its Blueprint (none for a
  * table only a cascade rewrites), the columns cascades rewrite, and a
  * predicate selecting the output rows masking left alone (their key is
  * still in the source's key domain).
  */
final case class TableSpec(name: String, bp: Option[Blueprint],
    cascadeTargets: Set[String], unmasked: String = "false")
final case class Cascade(parent: String, parentCol: String, child: String,
    childCol: String)

/** `Anonymizer.run()` over a multi-table Blueprint, and the output checks
  * every pass must meet: row counts kept, no dangling foreign key after a
  * cascade, rows failing `globalWhere` and undeclared columns identical
  * to the source, and the same content hash on every pass.
  */
abstract class AnonymizeWorkload(spark: SparkSession) extends Workload {
  def tables: Seq[TableSpec]
  def cascades: Seq[Cascade]
  def route(table: String): TableIO
  def source(table: String): DataFrame
  def output(table: String): DataFrame

  import Workloads.rowHash

  /** Per table: rows, the content hash of the undeclared columns, and
    * the count and content hash of the rows failing `globalWhere`, cast to
    * the output's types and without the cascade-rewritten columns.
    */
  private final case class Stats(rows: Long, undeclared: BigDecimal,
      kept: Long, keptHash: BigDecimal)
  private var sourceStats = Map.empty[String, Stats]
  private var firstHash: Option[BigDecimal] = None

  private def undeclared(ts: TableSpec, cols: Seq[String]): Seq[String] = {
    val declared = ts.bp.toSeq.flatMap(_.columns.map(_.name.toLowerCase)).toSet
    cols.filterNot(c => declared(c.toLowerCase) ||
      ts.cascadeTargets(c.toLowerCase))
  }
  private def keptCols(ts: TableSpec, cols: Seq[String]): Seq[String] =
    cols.filterNot(c => ts.cascadeTargets(c.toLowerCase))

  private def anonymizer(tracer: Tracer): Anonymizer = {
    val anon = new Anonymizer(spark, new BenchIO(route, tracer))
    tables.flatMap(_.bp).foreach(anon.table)
    anon
  }

  override def prepare(): Unit = {
    restore()
    // the planned frames carry the output's types, for the casts
    val planned = anonymizer(new Tracer(spark.sparkContext, enabled = false))
      .plan()
    sourceStats = tables.map { ts =>
      val src = source(ts.name)
      val r = src.agg(count(lit(1)), sum(rowHash(undeclared(ts, src.columns))))
        .head()
      val kept = ts.bp.flatMap(_.globalWhere).fold((0L, BigDecimal(0))) { g =>
        val out = planned(ts.name)
        val k = asOutput(src.filter(not(expr(g))), out,
          keptCols(ts, out.columns.toSeq))
        val kr = k.agg(count(lit(1)), sum(rowHash(k.columns.toSeq))).head()
        (kr.getLong(0), decimal(kr.getDecimal(1)))
      }
      ts.name -> Stats(r.getLong(0), decimal(r.getDecimal(1)), kept._1, kept._2)
    }.toMap
  }

  def sourceRows: Long = sourceStats.values.map(_.rows).sum

  def pass(tracer: Tracer): Unit = {
    val anon = anonymizer(tracer)
    tracer.open("anonymizer.plan")
    anon.run()
  }

  /** The source with each column cast to the output's type, so unchanged
    * rows compare equal across a type-changing cascade.
    */
  private def asOutput(src: DataFrame, out: DataFrame,
      cols: Seq[String]): DataFrame =
    src.select(cols.map(c => col(c).cast(out.schema(c).dataType).as(c)): _*)

  private def decimal(d: java.math.BigDecimal): BigDecimal =
    Option(d).fold(BigDecimal(0))(BigDecimal(_))

  def check(): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    var hash = BigDecimal(0)
    tables.foreach { ts =>
      val out = output(ts.name)
      val st = sourceStats(ts.name)
      val kept = expr(ts.unmasked)
      val r = out.agg(count(lit(1)), sum(rowHash(out.columns.toSeq)),
        sum(rowHash(undeclared(ts, out.columns))),
        count(when(kept, 1)),
        sum(when(kept, rowHash(keptCols(ts, out.columns.toSeq))))).head()
      val hasGlobalWhere = ts.bp.exists(_.globalWhere.nonEmpty)
      if (r.getLong(0) != st.rows)
        fails += s"${ts.name}: ${r.getLong(0)} rows written, source has ${st.rows}"
      if (decimal(r.getDecimal(2)) != st.undeclared)
        fails += s"${ts.name}: undeclared columns differ from the source"
      if (hasGlobalWhere &&
          (r.getLong(3) != st.kept || decimal(r.getDecimal(4)) != st.keptHash))
        fails += s"${ts.name}: rows failing globalWhere differ from the source"
      hash += decimal(r.getDecimal(1))
    }
    cascades.foreach { c =>
      val child = output(c.child).as("c")
      val parent = output(c.parent).as("p")
      val dangling = child.join(parent,
        col(s"c.${c.childCol}") === col(s"p.${c.parentCol}"), "left_anti")
        .count()
      if (dangling > 0)
        fails += s"${c.child}.${c.childCol}: $dangling dangling keys"
    }
    firstHash match {
      case None => firstHash = Some(hash)
      case Some(h) if h != hash => fails += s"content hash $hash != first pass $h"
      case _ =>
    }
    fails.toSeq
  }

  override def probe(tracer: Tracer): Unit = tables.foreach { ts =>
    ts.bp.foreach { bp =>
      tracer.span("blueprint.mask") {
        MaskCompiler(route(ts.name).read(ts.name), bp)
          .write.format("noop").mode("overwrite").save()
      }
    }
  }

  override def tracedCounts(): Map[String, Double] = {
    var written = 0L
    var changed = 0L
    tables.foreach { ts =>
      val out = output(ts.name)
      written += out.count()
      changed += out.exceptAll(
        asOutput(source(ts.name), out, out.columns.toSeq)).count()
    }
    Map("io.rows_changed_ratio" -> changed.toDouble / written)
  }
}

object Blueprints {
  /** Added to a masked order key: beyond every generated key, so masked
    * and unmasked keys never collide.
    */
  val KeyOffset = 1000000000000L

  /** The reference's example.php shape over customer -> orders -> lineitem:
    * static value, `#row#` template, generator, unique uuid key,
    * replaceByFields closure, per-column `where`, `globalWhere`, and two
    * cascades (the first changes the key's type to string).
    */
  val customer: Blueprint = Blueprint("customer") { t =>
    t.primary("c_custkey")
    t.globalWhere("c_mktsegment <> 'AUTOMOBILE' AND c_custkey % 10 <> 7")
    t.column("c_name").replaceWith("Customer#m#row#")
    t.column("c_mktsegment").where("c_acctbal > 0").replaceWith("REDACTED")
    t.column("c_acctbal").replaceByFields(DoubleType)(r =>
      math.rint(r.getAs[Double]("c_acctbal") / 100) * 100)
    t.column("c_custkey").replaceWithGenerator("uuid", unique = true)
      .synchronizeColumn("orders" -> "o_custkey")
  }
  val orders: Blueprint = Blueprint("orders") { t =>
    t.primary("o_orderkey")
    t.globalWhere("o_orderstatus <> 'F'")
    t.column("o_orderpriority").replaceWithGenerator("word")
    t.column("o_totalprice").where("o_totalprice > 250000")
      .replaceWithExpr(c => round(c("o_totalprice"), -3))
    t.column("o_orderkey").replaceWithExpr(c => c("o_orderkey") + KeyOffset)
      .synchronizeColumn("lineitem" -> "l_orderkey")
  }

  /** The JDBC workload's masking: type-preserving (the Derby targets keep
    * their DDL) and selective, so about a tenth of the rows change.
    */
  val jdbcCustomer: Blueprint = Blueprint("CUSTOMER") { t =>
    t.primary("C_CUSTKEY")
    t.globalWhere("C_ACCTBAL < -500")
    t.column("C_NAME").replaceWith("Customer#m#row#")
    t.column("C_MKTSEGMENT").where("C_NATIONKEY < 12").replaceWith("REDACTED")
    t.column("C_CUSTKEY").replaceWithExpr(c => c("C_CUSTKEY") + KeyOffset)
      .synchronizeColumn("ORDERS" -> "O_CUSTKEY")
  }
  val jdbcOrders: Blueprint = Blueprint("ORDERS") { t =>
    t.primary("O_ORDERKEY")
    t.globalWhere("O_TOTALPRICE > 475000")
    t.column("O_ORDERPRIORITY").replaceWithGenerator("word")
  }
}

/** customer -> orders -> lineitem through `ParquetIO`, several files per
  * table so the scan splits across cores.
  */
final class AnonymizeParquet(spark: SparkSession, seed: Long, work: Path,
    customers: Long, files: Int) extends AnonymizeWorkload(spark) {
  private val pristine = work.resolve("pristine")
  private val live = work.resolve("live")
  private val io = new ParquetIO(spark, live.toString)
  private def path(base: Path, t: String) = base.resolve(s"$t.parquet")

  val tables = Seq(
    TableSpec("customer", Some(Blueprints.customer), Set.empty,
      unmasked = "c_custkey NOT LIKE '%-%'"),
    TableSpec("orders", Some(Blueprints.orders), Set("o_custkey"),
      unmasked = s"o_orderkey < ${Blueprints.KeyOffset}"),
    TableSpec("lineitem", None, Set("l_orderkey")))
  val cascades = Seq(Cascade("customer", "c_custkey", "orders", "o_custkey"),
    Cascade("orders", "o_orderkey", "lineitem", "l_orderkey"))
  def route(table: String): TableIO = io
  def source(t: String): DataFrame = spark.read.parquet(path(pristine, t).toString)
  def output(t: String): DataFrame = spark.read.parquet(path(live, t).toString)

  def generate(): Unit = {
    val nOrders = customers * 10
    Seq(
      "customer" -> Inputs.customer(spark, seed, customers, files),
      "orders" -> Inputs.orders(spark, seed, nOrders, customers, files),
      "lineitem" -> Inputs.lineitem(spark, seed, nOrders * 4, nOrders, files))
      .foreach { case (t, df) =>
        df.write.mode("overwrite").parquet(path(pristine, t).toString)
      }
  }

  def restore(): Unit = tables.foreach { ts =>
    val dst = path(live, ts.name)
    Workloads.deleteTree(dst)
    Workloads.deleteTree(Path.of(dst.toString + ".__graft_staging"))
    Workloads.copyTree(path(pristine, ts.name), dst)
  }

  def inputBytes: Long =
    tables.map(ts => Workloads.dirBytes(path(pristine, ts.name))).sum
  def sinkBytes: Long = tables.map(ts => Workloads.dirBytes(path(live, ts.name))).sum
}

/** CUSTOMER + ORDERS in embedded in-memory Derby through `JdbcIO`:
  * partitioned scans with at most `cores` connections, staging inserts,
  * and the `TruncateInsert` commit.
  */
final class AnonymizeJdbc(spark: SparkSession, seed: Long, work: Path,
    customers: Long, cores: Int) extends AnonymizeWorkload(spark) {
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val nOrders = customers * 10
  private val ddl = Map(
    "CUSTOMER" -> ("C_CUSTKEY BIGINT PRIMARY KEY, C_NAME VARCHAR(40), " +
      "C_NATIONKEY INTEGER, C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(20)"),
    "ORDERS" -> ("O_ORDERKEY BIGINT PRIMARY KEY, O_CUSTKEY BIGINT, " +
      "O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, " +
      "O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR(20)"))
  // Spark's Derby dialect maps strings to CLOB, which INSERT..SELECT will
  // not assign into VARCHAR targets: pin the staging column types
  private val stagingTypes = Map(
    "CUSTOMER" -> "C_NAME VARCHAR(40), C_MKTSEGMENT VARCHAR(20)",
    "ORDERS" -> "O_ORDERSTATUS VARCHAR(1), O_ORDERPRIORITY VARCHAR(20)")
  private val keys = Map("CUSTOMER" -> ("C_CUSTKEY", customers),
    "ORDERS" -> ("O_ORDERKEY", nOrders))
  // one JdbcIO per table: JdbcIO applies one partition column and one
  // options map to every table it serves
  private val ios: Map[String, JdbcIO] = keys.map { case (t, (k, n)) =>
    t -> new JdbcIO(spark, url,
      Map("createTableColumnTypes" -> stagingTypes(t)),
      partition = Some(JdbcPartitioning(k, 0, n, cores)),
      sessionInit = None, commitMode = JdbcCommitMode.TruncateInsert)
  }
  private var snapshotBytes = 0L

  val tables = Seq(
    TableSpec("CUSTOMER", Some(Blueprints.jdbcCustomer), Set.empty,
      unmasked = s"C_CUSTKEY < ${Blueprints.KeyOffset}"),
    TableSpec("ORDERS", Some(Blueprints.jdbcOrders), Set("o_custkey"),
      unmasked = "O_ORDERPRIORITY LIKE '_-%'"))
  val cascades = Seq(Cascade("CUSTOMER", "C_CUSTKEY", "ORDERS", "O_CUSTKEY"))
  def route(table: String): TableIO = ios(table)
  def source(t: String): DataFrame = ios(t).read(s"${t}_SRC")
  def output(t: String): DataFrame = ios(t).read(t)

  private def sql(statements: String*): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try statements.foreach(st.execute) finally st.close()
    } finally c.close()
  }
  private def dropIfExists(t: String): Unit =
    try sql(s"DROP TABLE $t") catch { case _: java.sql.SQLException => () }

  def generate(): Unit = {
    val upper = (df: DataFrame) => df.toDF(df.columns.map(_.toUpperCase): _*)
    Seq(
      "CUSTOMER" -> Inputs.customer(spark, seed, customers, cores),
      "ORDERS" -> Inputs.orders(spark, seed, nOrders, customers, cores))
      .foreach { case (t, df) =>
        Seq(t, s"${t}_SRC").foreach(dropIfExists)
        sql(s"CREATE TABLE ${t}_SRC (${ddl(t)})")
        upper(df).write.format("jdbc").option("url", url)
          .option("dbtable", s"${t}_SRC").mode("append").save()
        sql(s"CREATE TABLE $t (${ddl(t)})")
      }
  }

  def restore(): Unit = tables.foreach { ts =>
    dropIfExists(s"${ts.name}__graft_staging")
    sql(s"TRUNCATE TABLE ${ts.name}",
      s"INSERT INTO ${ts.name} SELECT * FROM ${ts.name}_SRC")
  }

  override def check(): Seq[String] = {
    val fails = super.check()
    if (snapshotBytes == 0L && fails.isEmpty) {
      val dir = work.resolve("snapshot")
      tables.foreach(ts => output(ts.name).write.mode("overwrite")
        .parquet(dir.resolve(ts.name).toString))
      snapshotBytes = Workloads.dirBytes(dir)
    }
    fails
  }

  def sinkBytes: Long = snapshotBytes

  /** Pages Derby allocated to the pristine tables and their indexes. */
  def inputBytes: Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try tables.map { ts =>
      val rs = c.createStatement().executeQuery(
        "SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM TABLE " +
          s"(SYSCS_DIAG.SPACE_TABLE('APP', '${ts.name}_SRC')) T")
      rs.next()
      rs.getLong(1)
    }.sum finally c.close()
  }

  override def close(): Unit =
    try java.sql.DriverManager.getConnection(
      "jdbc:derby:memory:perfbench;drop=true")
    catch { case _: java.sql.SQLException => () }
}

/** `SparkEntry.queries(q)(spark, dir)` then the noop sink, per query over
  * the seeded `customer` table. The
  * noop write carries an `observe` of the output's content hash, which
  * must equal the hash of the DuckDB-checked parquet snapshot written at
  * set-up.
  */
final class Pipeline(spark: SparkSession, seed: Long, work: Path,
    queries: Seq[String], customers: Long) extends Workload {
  private val inputs = work.resolve("inputs")
  private val snapshot = work.resolve("out")
  private val expected = mutable.Map.empty[String, (Long, BigDecimal)]
  private val observed = mutable.Map.empty[String, (Long, BigDecimal)]

  /** Row count and content hash of a query's output. */
  private def hashAggs(cols: Seq[String]): Seq[Column] =
    Seq(count(lit(1)).as("n"), sum(Workloads.rowHash(cols)).as("h"))

  /** The queries read only `customer`, as one file like the fixtures. */
  def generate(): Unit =
    Inputs.customer(spark, seed, customers, 1).write.mode("overwrite")
      .parquet(inputs.resolve("customer.parquet").toString)

  /** Set-up already ran the query once. */
  override def warmups: Int = 5

  /** Writes each query's output and its oracle SQL for the DuckDB check. */
  override def prepare(): Unit = {
    val oracle = queries.map { q =>
      val dir = snapshot.resolve(q).toString
      SparkEntry.queries(q)(spark, inputs.toString)
        .write.mode("overwrite").parquet(dir)
      val snap = spark.read.parquet(dir)
      val aggs = hashAggs(snap.columns.toSeq)
      val r = snap.agg(aggs.head, aggs.tail: _*).head()
      expected(q) = (r.getLong(0), BigDecimal(r.getDecimal(1)))
      q -> SparkEntry.oracleSql(q)
    }
    Json.write(work.resolve("oracle.json"), oracle.toMap)
  }

  def sourceRows: Long = queries.size * customers
  def sinkBytes: Long = Workloads.dirBytes(snapshot)
  def inputBytes: Long = Workloads.dirBytes(inputs)
  def restore(): Unit = observed.clear()

  def pass(tracer: Tracer): Unit = queries.foreach { q =>
    val df = tracer.span(s"pipeline.$q.build") {
      SparkEntry.queries(q)(spark, inputs.toString)
    }
    val obs = Observation(s"pb_$q")
    val aggs = hashAggs(df.columns.toSeq)
    tracer.span(s"pipeline.$q.sink") {
      df.observe(obs, aggs.head, aggs.tail: _*)
        .write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    observed(q) = (m("n").asInstanceOf[Long],
      BigDecimal(m("h").asInstanceOf[java.math.BigDecimal]))
  }

  def check(): Seq[String] = queries.flatMap { q =>
    if (observed.get(q) == expected.get(q)) None
    else Some(s"$q: output ${observed.get(q)} != snapshot ${expected.get(q)}")
  }
}
