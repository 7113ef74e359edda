package perfbench

import graft.sources.GraftSql
import graft.tables.{GraftTable, PartitionField}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Read-only analyst traffic over tables that do not change: selective
  * `toDF(filter)` reads, SQL text through `GraftSql.sql`, and time travel.
  *
  * Set-up builds `lineitem` partitioned by `months(l_shipdate)` and
  * `orders` appended in slices (the retained history time travel reads)
  * and then range-clustered on `o_orderkey` into 16 files.
  */
final class Scan(spark: SparkSession, a: Args, plan: Plan, tracer: Tracer) extends Workload {
  private val bounds = plan.ints("history")
  private var dir: String = _
  private var lineitem: GraftTable = _
  private var orders: GraftTable = _
  private var sql: GraftSql = _
  private var snaps: Seq[graft.tables.Snapshot] = Nil
  private val queries = plan.rows("q").map(r => r(0).toInt -> (r(1), r(2), r(3))).toMap
  private val order = plan.ints("order")
  private var cursor = 0
  private val results = mutable.LinkedHashMap.empty[Int, Seq[Row]]
  private val mismatched = mutable.Set.empty[Int]
  private val opIds = mutable.Map.empty[Int, List[Int]].withDefaultValue(Nil) // timed runs of each query

  def setup(i: Int): Unit = {
    dir = s"${a.workDir}/scan-$i"
    val li = spark.read.parquet(s"${a.dataDir}/lineitem.parquet")
    lineitem = GraftTable.createAs(spark, s"$dir/lineitem", li,
      Seq(PartitionField("l_shipdate", "months", "l_shipdate_month")))
    val ord = spark.read.parquet(s"${a.dataDir}/orders.parquet")
    val k = col("o_orderkey")
    orders = GraftTable.createAs(spark, s"$dir/orders", ord.filter(k < bounds.head))
    bounds.sliding(2).foreach { case Seq(lo, hi) => orders.append(ord.filter(k >= lo && k < hi)) }
    orders.cluster(Seq("o_orderkey"), 16)
    snaps = orders.meta.snapshots.sortBy(_.timestampMs)
    sql = new GraftSql(spark, s"$dir/warehouse")
    sql.register("lineitem", lineitem.location)
    sql.register("orders", orders.location)
  }

  /** Two passes over the distinct queries, on the fixture the timed loop
    * reads: one pass leaves the JIT still warming through the timed window.
    */
  def warmup(c: Client): Unit =
    for (_ <- 1 to 2; q <- queries.keys.toSeq.sorted) execute(c, q)

  def step(c: Client): Unit = {
    val q = order(cursor % order.size)
    execute(c, q)
    opIds(q) = c.ops.last.id :: opIds(q)
    cursor += 1
  }

  private def execute(c: Client, q: Int): Unit = {
    val (cls, kind, payload) = queries(q)
    c.run(cls, kind)(collect(kind, payload)).foreach { rows =>
      results.get(q) match {
        case None => results(q) = rows
        case Some(first) => if (first != rows) mismatched += q
      }
    }
  }

  private def historical(i: Int): graft.tables.Snapshot = snaps(i)

  private def collect(kind: String, payload: String): Seq[Row] = kind match {
    case "sel" =>
      val Array(t, filter, measure) = payload.split('|')
      val table = if (t == "lineitem") lineitem else orders
      val df = tracer.span("graft.tables", "toDF")(table.toDF(Some(filter)))
      df.agg(count(lit(1)), sum(col(measure))).collect().toSeq
    case "sql" =>
      val df = tracer.span("graft.sources", "sql")(sql.sql(payload))
      df.collect().toSeq
    case "asof" =>
      val df = tracer.span("graft.tables", "asOf")(orders.asOf(historical(payload.toInt).id))
      fingerprint(df)
    case "sqltime" =>
      val ts = java.time.Instant.ofEpochMilli(historical(payload.toInt).timestampMs)
        .toString.stripSuffix("Z").replace('T', ' ')
      val df = tracer.span("graft.sources", "sql")(sql.sql(
        s"SELECT count(*) AS n, sum(o_totalprice) AS s, sum(o_orderkey) AS k " +
          s"FROM orders FOR SYSTEM_TIME AS OF '$ts'"))
      df.collect().toSeq
  }

  private def fingerprint(df: DataFrame): Seq[Row] =
    df.agg(count(lit(1)), sum(col("o_totalprice")), sum(col("o_orderkey"))).collect().toSeq

  /** Guards: each class must exercise its mechanism. Planning calls run
    * here, after the timed loop, and are traced as their own spans.
    */
  def finish(c: Client): Map[String, Any] = {
    val guards = mutable.ArrayBuffer.empty[String]
    val planning = queries.toSeq.sortBy(_._1).collect { case (q, (_, "sel", p)) =>
      val Array(t, filter, _) = p.split('|')
      val table = if (t == "lineitem") lineitem else orders
      val total = table.currentFiles().size
      val kept = tracer.span("graft.tables", "plannedFiles")(table.plannedFiles(filter)).size
      val (mKept, mTotal) = tracer.span("graft.tables", "plannedManifests")(table.plannedManifests(filter))
      if (kept >= total) guards += s"selective query $q keeps $kept of $total files"
      q -> Map("table" -> t, "files_total" -> total, "files_kept" -> kept,
        "manifests_total" -> mTotal, "manifests_kept" -> mKept)
    }
    val current = orders.meta.currentSnapshotId
    queries.values.collect { case (_, k, p) if k == "asof" || k == "sqltime" => p.toInt }.foreach { i =>
      if (current.contains(historical(i).id)) guards += s"travel snapshot $i is the current one"
    }
    if (lineitem.currentFiles().size < 2) guards += "lineitem is not multi-file"
    val probeSql = plan.rows("probe").head.head
    val probe = try Right(sql.sql(probeSql).collect().toSeq) catch {
      case e: Exception => Left(c.describe(e))
    }
    val Seq(rangeQuery, rangeFilter) = plan.rows("sqlrange").head.toSeq
    val sqlScanned = opIds(rangeQuery.toInt).flatMap(tracer.work.get).map(_.filesScanned.toDouble)
    Map(
      "sources" -> Map(
        "sql_range_files_scanned" -> (if (sqlScanned.isEmpty) 0.0 else Stats.median(sqlScanned)),
        "sql_range_todf_files" -> orders.plannedFiles(rangeFilter).size),
      "results" -> results.map { case (q, rows) => q.toString -> rows },
      "mismatched" -> mismatched.toSeq.sorted,
      "executions" -> opIds.map { case (q, ids) => q.toString -> ids.size }.toMap,
      "probe" -> Map("sql" -> probeSql, "rows" -> probe.toOption, "error" -> probe.left.toOption),
      "probe_failed" -> (if (probe.isLeft) 1 else 0),
      "planning" -> planning.map { case (q, m) => q.toString -> m }.toMap,
      "guards" -> guards.toSeq,
      "fixture" -> Map("lineitem" -> Fixture.describe(lineitem), "orders" -> Fixture.describe(orders)),
      "storage" -> Map(
        "data_files_live" -> (lineitem.currentFiles().size + orders.currentFiles().size),
        "data_bytes_live" -> (lineitem.liveDataBytes() + orders.liveDataBytes()),
        "bytes_on_disk" -> (Fixture.bytesUnder(lineitem.location) + Fixture.bytesUnder(orders.location))),
      "snapshots" -> snaps.map(_.id))
  }

  /** Over complete rounds (one seeded permutation of the pool each), so
    * every run weighs each query the same.
    */
  def throughput(c: Client, elapsedS: Double): Double = {
    val ops = c.ops.toSeq.take(c.ops.size / queries.size * queries.size)
    ops.count(_.ok) / (ops.map(_.ms).sum / 1e3)
  }

  override def complete: Boolean = cursor >= queries.size

  def report(c: Client, elapsedS: Double): Seq[(String, Double)] = {
    val all = c.ops.toSeq
    Seq(
      "read_qps" -> throughput(c, elapsedS),
      "read_p90_ms" -> Workload.pct(all, 0.9),
      "selective_read_p50_ms" -> Workload.pct(c.of("selective"), 0.5),
      "analytic_read_p50_ms" -> Workload.pct(c.of("analytic"), 0.5),
      "travel_read_p50_ms" -> Workload.pct(c.of("travel"), 0.5))
  }
}
