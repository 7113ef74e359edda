package perfbench

import graft.tables.{GraftTable, IncrementalAggView}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** A DML stream on an `orders`-derived table with an `IncrementalAggView`
  * over it. One cycle is a commit and the selective read that follows it;
  * the last cycle of each block also refreshes the view and runs a
  * maintenance step. Figures come from complete blocks only, so every run
  * weighs each kind of commit the same.
  */
final class Ingest(spark: SparkSession, a: Args, plan: Plan, tracer: Tracer) extends Workload {
  private val Seq(blockSize) = plan.ints("ingest")
  private val stream = plan.rows("op").toVector
  private var dir: String = _
  private var table: GraftTable = _
  private var view: IncrementalAggView = _
  private var commits = 0
  private var viewCommits = 0 // commits the view has folded in
  private var blockStart = 0L
  private var blockOps = 0
  private val cycles = mutable.ArrayBuffer.empty[Double]
  private val blocks = mutable.ArrayBuffer.empty[(Seq[OpRecord], Seq[Double], Double)]
  private val freshness = mutable.ArrayBuffer.empty[Double]
  private val reads = mutable.ArrayBuffer.empty[(Int, Seq[Row])]
  private val guards = mutable.ArrayBuffer.empty[String]
  private val metaBytes = mutable.ArrayBuffer.empty[Long]
  private var bytesAdded = 0L
  private var bytesIngested = 0L
  private val k = col("o_orderkey")

  private def orders = spark.read.parquet(s"${a.dataDir}/orders.parquet")

  def setup(i: Int): Unit = {
    dir = s"${a.workDir}/ingest-$i"
    table = GraftTable.createAs(spark, s"$dir/orders", orders).cluster(Seq("o_orderkey"), 16)
    view = IncrementalAggView.create(spark, s"$dir/orders_by_priority", table,
      Seq("o_orderpriority"), Seq("o_totalprice"))
  }

  /** One block on a throwaway copy, so the timed fixture starts at its
    * first version.
    */
  def warmup(c: Client): Unit = {
    val scratch = GraftTable.createAs(spark, s"$dir-warmup/orders", orders.filter(k < 20000))
    val wv = IncrementalAggView.create(spark, s"$dir-warmup/view", scratch,
      Seq("o_orderpriority"), Seq("o_totalprice"))
    stream.take(blockSize).foreach(op => commit(scratch, op))
    scratch.toDF(Some("o_orderkey BETWEEN 100 AND 900")).agg(count(lit(1))).collect()
    wv.refresh()
    scratch.compact(1L << 16).expireSnapshots(System.currentTimeMillis()).rewriteManifests(4)
  }

  private def batch(name: String) = spark.read.parquet(s"${a.dataDir}/batches/$name")

  /** Apply one stream record (`i kind arg read-range`) to `t`. */
  private def commit(t: GraftTable, op: Array[String]): Unit = {
    lazy val Array(lo, hi) = op(2).split('|')
    op(1) match {
      case "append" => t.append(batch(op(2)))
      case "upsert_mor" => t.upsertMergeOnRead(batch(op(2)), Seq("o_orderkey"))
      case "merge" => t.mergeInto(batch(op(2)), Seq("o_orderkey"))
      case "delete" => t.delete(s"o_orderkey BETWEEN $lo AND $hi")
      case "update" =>
        t.update(s"o_orderkey BETWEEN $lo AND $hi", Map("o_totalprice" -> "o_totalprice + 1.0"))
    }
    ()
  }

  /** Run a commit-class operation; traced runs also count the data bytes
    * it added, outside its timing.
    */
  private def committing(c: Client, t: GraftTable, kind: String)(body: => Any): Unit = {
    val before = if (a.trace) t.currentFiles().map(_.path).toSet else Set.empty[String]
    c.run("commit", kind)(tracer.span("graft.tables", s"commit.$kind")(body))
    if (a.trace) bytesAdded += t.currentFiles().filterNot(f => before(f.path)).map(_.sizeBytes).sum
  }

  def step(c: Client): Unit = {
    if (commits >= stream.size) throw new IllegalStateException("ingest stream exhausted")
    val op = stream(commits)
    val first = c.ops.size
    if (commits % blockSize == 0) {
      blockStart = System.nanoTime()
      blockOps = first
    }
    committing(c, table, op(1))(commit(table, op))
    commits += 1
    if (a.trace) {
      metaBytes += Fixture.bytesUnder(s"${table.location}/metadata")
      if (Set("append", "upsert_mor", "merge")(op(1)))
        bytesIngested += Fixture.bytesUnder(s"${a.dataDir}/batches/${op(2)}")
      tracer.span("graft.tables", "meta_load_cold")(GraftTable.load(spark, table.location).meta)
      tracer.span("graft.tables", "meta_load_warm")(GraftTable.load(spark, table.location).meta)
    }
    val Array(lo, hi) = op(3).split('|')
    val filter = s"o_orderkey BETWEEN $lo AND $hi"
    c.run("read", "after_write") {
      val df = tracer.span("graft.tables", "toDF")(GraftTable.load(spark, table.location).toDF(Some(filter)))
      df.agg(count(lit(1)), sum(col("o_totalprice"))).collect().toSeq
    }.foreach(rows => reads += ((commits, rows)))
    if (a.trace) tracer.span("graft.tables", "plannedFiles")(table.plannedFiles(filter))
    if (commits % blockSize == 0) {
      val before = if (a.trace) view.table.currentFiles().map(_.path).toSet else Set.empty[String]
      c.run("refresh", "view")(tracer.span("graft.tables", "refresh")(view.refresh())).foreach { _ =>
        freshness += (System.nanoTime() - blockStart) / 1e6
        viewCommits = commits
      }
      if (a.trace) bytesAdded += view.table.currentFiles().filterNot(f => before(f.path)).map(_.sizeBytes).sum
      maintain(c)
    }
    cycles += c.ops.drop(first).map(o => if (o.ok) o.ms else Double.PositiveInfinity).sum
    if (commits % blockSize == 0)
      blocks += ((c.ops.drop(blockOps).toSeq, cycles.takeRight(blockSize).toSeq,
        (System.nanoTime() - blockStart) / 1e9))
  }

  override def complete: Boolean = blocks.nonEmpty

  /** Compact to a target that keeps the table multi-file, then expire
    * snapshots older than the view's cursor and rewrite the manifests.
    */
  private def maintain(c: Client): Unit = {
    val target = math.max(1L << 16, table.liveDataBytes() / 8)
    committing(c, table, "compact")(table.compact(target))
    val cursor = table.meta.snapshot(view.baseSnapshot).map(_.timestampMs).getOrElse(0L)
    committing(c, table, "expire")(table.expireSnapshots(cursor))
    committing(c, table, "rewrite_manifests")(table.rewriteManifests(4))
    val files = table.currentFiles().size
    if (files < 2) guards += s"maintenance after commit $commits left $files data file(s)"
  }

  private def liveBytes: Long =
    (table.currentFiles() ++ view.table.currentFiles()).map(_.sizeBytes).sum
  private def onDisk: Long =
    Fixture.bytesUnder(table.location) + Fixture.bytesUnder(view.table.location)

  def finish(c: Client): Map[String, Any] = {
    val fp = table.toDF().agg(count(lit(1)), sum(col("o_totalprice")), sum(col("o_orderkey")))
      .collect().head
    val viewRows = view.toDF().select("o_orderpriority", "cnt", "sum_o_totalprice")
      .orderBy("o_orderpriority").collect().toSeq
    val viewDeletes = view.table.currentEqualityDeletes().size + view.table.currentPositionDeletes().size
    Map(
      "commits" -> commits,
      "view_commits" -> viewCommits,
      "blocks" -> blocks.size,
      "reads" -> reads.map { case (i, rows) => Seq(i, rows) },
      "final" -> fp,
      "view" -> viewRows,
      "guards" -> guards.toSeq,
      "storage" -> Map(
        "data_files_live" -> (table.currentFiles().size + view.table.currentFiles().size),
        "delete_files_live" -> (table.currentEqualityDeletes().size +
          table.currentPositionDeletes().size + viewDeletes),
        "view_delete_files" -> viewDeletes,
        "data_bytes_live" -> liveBytes, "bytes_on_disk" -> onDisk,
        "meta_bytes_per_commit" -> (if (metaBytes.size < 2) 0.0
          else (metaBytes.last - metaBytes.head).toDouble / (metaBytes.size - 1)),
        "write_amp" -> (if (bytesIngested == 0) 0.0 else bytesAdded.toDouble / bytesIngested)),
      "fixture" -> Map("orders" -> Fixture.describe(table), "view" -> Fixture.describe(view.table)),
      "cycles_ms" -> cycles.toSeq,
      "freshness_ms" -> freshness.toSeq)
  }

  def throughput(c: Client, elapsedS: Double): Double =
    blocks.map(_._1.count(_.ok)).sum / blocks.map(_._3).sum

  def report(c: Client, elapsedS: Double): Seq[(String, Double)] = {
    val ops = blocks.flatMap(_._1).toSeq
    val commitOps = ops.filter(_.cls == "commit")
    Seq(
      "ingest_cycles_per_s" -> blocks.map(_._2.size).sum / blocks.map(_._3).sum,
      "commit_p90_ms" -> Workload.pct(commitOps, 0.9),
      "append_p50_ms" -> Workload.pct(commitOps.filter(_.kind == "append"), 0.5),
      "rowlevel_p50_ms" -> Workload.pct(commitOps.filter(o =>
        Set("upsert_mor", "delete", "update", "merge")(o.kind)), 0.5),
      "freshness_p50_ms" -> Stats.median(freshness.toSeq),
      "read_after_write_p50_ms" -> Workload.pct(ops.filter(_.cls == "read"), 0.5),
      "space_amp" -> onDisk.toDouble / liveBytes)
  }
}
