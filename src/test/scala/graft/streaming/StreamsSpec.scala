package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("st01 streaming windowed agg matches batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = Streams.windowedAgg(events).writeStream
      .format("memory").queryName("st01_out").outputMode("append").start()
    try {
      input.addData(
        (ts(5), "click", 1.0), (ts(10), "click", 2.0), (ts(20), "view", 3.0))
      q.processAllAvailable()
      // advance event time well past the watermark so the 10:00 window closes
      input.addData((Timestamp.valueOf("2024-01-01 13:00:00"), "click", 9.0))
      q.processAllAvailable()
      val out = spark.table("st01_out")
        .select($"hour_start", $"event_type", $"n", $"sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(out.contains((Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L, 3.0)))
      assert(out.contains((Timestamp.valueOf("2024-01-01 10:00:00"), "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("st07 stream-stream join matches across micro-batches and evicts old state") {
    implicit val sqlCtx = spark.sqlContext
    val vIn = MemoryStream[(Long, Long, Timestamp)]
    val cIn = MemoryStream[(Long, Long, Timestamp)]
    val views = vIn.toDF().toDF("v_id", "user_id", "v_ts").withWatermark("v_ts", "10 minutes")
    val clicks = cIn.toDF().toDF("c_id", "c_user", "c_ts").withWatermark("c_ts", "10 minutes")
    val joined = views.join(clicks,
      $"user_id" === $"c_user" && $"c_ts" >= $"v_ts" &&
        $"c_ts" <= $"v_ts" + expr("INTERVAL 15 MINUTES"))
      .select($"v_id", $"c_id")
    val q = joined.writeStream.format("memory").queryName("st07_out")
      .outputMode("append").start()
    try {
      // view arrives alone in batch 1 — no match yet
      vIn.addData((1L, 7L, ts(0)))
      q.processAllAvailable()
      assert(spark.table("st07_out").count() == 0)
      // matching click in a LATER batch: the buffered view still matches
      cIn.addData((100L, 7L, ts(5)))
      // out-of-window click: same user, 20 min later -> no match
      cIn.addData((101L, 7L, ts(20)))
      q.processAllAvailable()
      val out = spark.table("st07_out").as[(Long, Long)].collect().toSet
      assert(out == Set((1L, 100L)), s"got $out")
    } finally q.stop()
  }

  test("st02 flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Ev]
    val q = Streams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("st02_out").outputMode("append").start()
    try {
      val base = 1700000000000L
      input.addData(
        Streams.Ev(1L, base), Streams.Ev(1L, base + 60000),             // session A
        Streams.Ev(2L, base))
      q.processAllAvailable()
      input.addData(
        Streams.Ev(1L, base + 2 * 3600 * 1000),                        // closes A, opens B
        Streams.Ev(2L, base + 3 * 3600 * 1000))                        // closes user-2 session
      q.processAllAvailable()
      val out = spark.table("st02_out").as[Streams.Session].collect().toSet
      assert(out.contains(Streams.Session(1L, base, base + 60000, 2)))
      assert(out.contains(Streams.Session(2L, base, base, 1)))
    } finally q.stop()
  }

  test("st04 streaming writes land as one snapshot per micro-batch with time travel") {
    import graft.tables.GraftTable
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val loc = java.nio.file.Files.createTempDirectory("graft_stream").toString + "/t"
    val schema = StructType(Seq(StructField("event_id", LongType), StructField("value", DoubleType)))
    val table = GraftTable.createEmpty(spark, loc, schema)
    val input = MemoryStream[(Long, Double)]
    val q = Streams.writeToTable(input.toDF().toDF("event_id", "value"), table, "st04")
    try {
      input.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      val snap1 = table.meta.currentSnapshotId.get
      input.addData((3L, 3.0))
      q.processAllAvailable()
      assert(table.toDF().count() == 3)
      assert(table.asOf(snap1).count() == 2)          // time travel over the stream
      assert(table.meta.snapshots.size == 2)
    } finally q.stop()
  }

  test("st05 streaming upsert: each micro-batch is one merge-on-read upsert commit") {
    import graft.tables.GraftTable
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val loc = java.nio.file.Files.createTempDirectory("graft_stream_up").toString + "/t"
    val schema = StructType(Seq(StructField("event_id", LongType), StructField("value", DoubleType)))
    val table = GraftTable.createEmpty(spark, loc, schema)
    val input = MemoryStream[(Long, Double)]
    val q = Streams.upsertToTable(input.toDF().toDF("event_id", "value"), table,
      Seq("event_id"), "st05")
    try {
      input.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      assert(table.toDF().count() == 2)
      input.addData((2L, 20.0), (3L, 3.0))
      q.processAllAvailable()
      val byId = table.toDF().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(byId == Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0), s"latest value wins: $byId")
      assert(table.meta.snapshots.size == 2, "one commit per micro-batch")
      assert(table.currentEqualityDeletes().nonEmpty, "no rewrite happened")
    } finally q.stop()
  }

  test("st03 streaming dedup drops duplicate ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("event_id", "ts", "value")
    val q = Streams.dedupStream(events).writeStream
      .format("memory").queryName("st03_out").outputMode("append").start()
    try {
      input.addData((1L, ts(0), 1.0), (2L, ts(1), 2.0), (1L, ts(2), 1.0))
      q.processAllAvailable()
      input.addData((1L, ts(3), 1.0), (3L, ts(4), 3.0))
      q.processAllAvailable()
      val ids = spark.table("st03_out").select($"event_id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("st06 changelog stream delivers per-commit batches equal to the batch changelog") {
    val table = graft.tables.GraftTable.createAs(spark,
      java.nio.file.Files.createTempDirectory("graft_st06_spec").toString + "/t",
      spark.read.parquet(s"$sf/orders.parquet").orderBy($"o_orderkey").limit(200))
    val s0 = table.meta.currentSnapshotId.get
    val batches = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (head, rows)
    val cs = new Streams.ChangelogStream(table, s0, intervalMs = 1000000, // poll off: drain manually
      (df, head) => batches += ((head, df.count()))).start()
    try {
      table.append(spark.read.parquet(s"$sf/orders.parquet").orderBy($"o_orderkey").limit(30)
        .withColumn("o_orderkey", $"o_orderkey" + 900000000L))
      cs.processAllAvailable()
      table.deleteMergeOnRead("o_orderkey >= 900000000")
      cs.processAllAvailable()
      cs.processAllAvailable() // no new commits -> no new batch
      // row-preserving maintenance between polls: empty batch, no error
      table.materializeDeletes()
      cs.processAllAvailable()
      // rollback between polls moves the head off our branch: the poller
      // must deliver a reconciliation diff, not die on the ancestry check
      val preRollbackSnap = table.meta.currentSnapshotId.get
      val preRollbackRows = table.toDF().count()
      table.append(spark.read.parquet(s"$sf/orders.parquet").orderBy($"o_orderkey").limit(20)
        .withColumn("o_orderkey", $"o_orderkey" + 910000000L))
      cs.processAllAvailable() // delivers the 20 inserts
      table.rollback(preRollbackSnap)
      cs.processAllAvailable() // reconciliation: 20 deletes
      assert(table.toDF().count() == preRollbackRows)
    } finally cs.stop()
    assert(batches.map(_._2) == Seq(30L, 30L, 0L, 20L, 20L), s"got $batches")
    // union of streamed batches == one batch changelog over the same range
    val full = table.changesBetween(s0, table.meta.currentSnapshotId.get)
    assert(full.count() == 60L)
    assert(full.groupBy($"_change_type").count().as[(String, Long)].collect().toMap ==
      Map("insert" -> 30L, "delete" -> 30L))
  }

  test("changelog stream can follow a branch (WAP audit consumer)") {
    val table = graft.tables.GraftTable.createAs(spark,
      java.nio.file.Files.createTempDirectory("graft_st06_branch").toString + "/t",
      spark.read.parquet(s"$sf/orders.parquet").orderBy($"o_orderkey").limit(100))
    val s0 = table.meta.currentSnapshotId.get
    table.createBranch("audit")
    val mainBatches = scala.collection.mutable.ArrayBuffer[Long]()
    val auditBatches = scala.collection.mutable.ArrayBuffer[Long]()
    val csMain = new Streams.ChangelogStream(table, s0, 1000000,
      (df, _) => mainBatches += df.count()).start()
    val csAudit = new Streams.ChangelogStream(table, s0, 1000000,
      (df, _) => auditBatches += df.count(), ref = Some("audit")).start()
    try {
      table.appendToBranch(
        spark.read.parquet(s"$sf/orders.parquet").orderBy($"o_orderkey").limit(25)
          .withColumn("o_orderkey", $"o_orderkey" + 920000000L), "audit")
      csMain.processAllAvailable()
      csAudit.processAllAvailable()
      // staged rows visible to the branch subscriber only
      assert(mainBatches.isEmpty && auditBatches == Seq(25L),
        s"main=$mainBatches audit=$auditBatches")
      table.publish("audit")
      csMain.processAllAvailable()
      assert(mainBatches == Seq(25L), s"after publish main=$mainBatches")
    } finally { csMain.stop(); csAudit.stop() }
  }

  test("st08 stream-static join is value-identical to the batch join") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val out = Streams.st08StreamStaticGate(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    val batch = graft.sources.Tables.events(spark, sf)
      .join(spark.read.parquet(s"$sf/customer.parquet"), $"user_id" === $"c_custkey")
      .join(spark.read.parquet(s"$sf/nation.parquet"), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy($"n_name")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == batch, s"stream=$out batch=$batch")
  }

  // ADVICE r5 regression: stop() must not leave the poller sleeping out a
  // full interval — even with a pathological poll interval the thread is
  // gone when stop() returns.
  test("batch-id fence: a replayed micro-batch is applied exactly once") {
    import graft.tables.GraftTable
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString + "/t"
    val df10 = spark.read.parquet(s"$sf/orders.parquet").limit(10)

    // append sink: replaying batch 0 after a simulated crash must not
    // duplicate rows — the fence rode the first commit
    val ta = GraftTable.createAs(spark, tmp("graft_fence_a"), df10)
    Streams.applyAppendBatch(ta, "q")(df10, 0L)
    assert(ta.toDF().count() == 20)
    Streams.applyAppendBatch(ta, "q")(df10, 0L) // replay
    assert(ta.toDF().count() == 20, "replayed append batch was re-applied")
    Streams.applyAppendBatch(ta, "q")(df10, 1L) // next batch proceeds
    assert(ta.toDF().count() == 30)

    // upsert sink: a replayed upsert is skipped (no spurious commit, no
    // phantom delete+insert in the changelog)
    val tu = GraftTable.createAs(spark, tmp("graft_fence_u"), df10)
    Streams.applyUpsertBatch(tu, Seq("o_orderkey"), None, "q")(df10, 0L)
    val commits = tu.meta.snapshots.size
    Streams.applyUpsertBatch(tu, Seq("o_orderkey"), None, "q")(df10, 0L) // replay
    assert(tu.meta.snapshots.size == commits, "replayed upsert committed again")
    // independent subscriptions fence independently
    Streams.applyUpsertBatch(tu, Seq("o_orderkey"), None, "q2")(df10, 0L)
    assert(tu.meta.snapshots.size == commits + 1)
  }

  test("view maintainer converges live without explicit sync and stops promptly") {
    import graft.tables.{GraftTable, IncrementalAggView}
    import org.apache.spark.sql.functions.{col, sum => fsum}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString + "/t"
    val base = GraftTable.createAs(spark, tmp("graft_st09b"),
      spark.read.parquet(s"$sf/orders.parquet").limit(100))
    val view = IncrementalAggView.create(spark, tmp("graft_st09v"), base,
      Seq("o_orderstatus"), Seq("o_totalprice"))
    val vm = new Streams.ViewMaintainer(view, intervalMs = 25).start()
    try {
      base.append(spark.read.parquet(s"$sf/orders.parquet").limit(40)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L))
      // poll-driven, no processAllAvailable: the maintainer must converge
      val deadline = System.currentTimeMillis() + 20000
      def viewCnt(): Long =
        view.toDF().agg(fsum(col("cnt"))).head().getLong(0)
      while (viewCnt() != 140 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(viewCnt() == 140, "maintainer did not converge within deadline")
    } finally vm.stop()
    assert(!vm.isAlive, "maintainer thread survived stop()")
  }

  test("st12 streaming packing equals the batch operator across batch cuts") {
    import graft.functions.BpeVocab
    // cuts sized to the sf0.001 corpus (50 docs) so tokens genuinely
    // carry across micro-batches in the leftover state
    val stream = Streams.st12StreamPackingGate(spark, sf, Seq(20L, 35L))
      .as[(Long, Long, Long, String)].collect().toVector
    val batch = graft.operators.TextAnalysis.p06PackedSequences(spark, sf)
      .as[(Long, Long, Long, String)].collect().toVector
    assert(stream == batch, "streaming result differs from batch packing")
    assert(stream.nonEmpty)
    // fixture sanity: some shard's pre-cut token count is not a multiple
    // of the budget AND it has post-cut docs, so the equality above
    // really exercised a leftover buffer crossing a batch boundary
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val crossing = (0L until 8L).exists { s =>
      val mine = docs.filter(_._1 % 8 == s)
      val preTok = mine.filter(_._1 < 20).map { case (_, t) =>
        BpeVocab.tokenIds(org.apache.spark.unsafe.types.UTF8String.fromString(t))
          .numElements().toLong + 1L
      }.sum
      mine.exists(_._1 >= 20) && preTok % 128L != 0L
    }
    assert(crossing, "fixture degenerated: no shard carries leftover across the cut")
  }

  test("st12 packing survives a mid-stream restart (checkpointed leftover state)") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val flushers = spark.range(8).select(
      (lit(1L << 40) + $"id").as("doc_id"), lit(null).cast("string").as("text"))
    val parts = Seq(
      docs.filter($"doc_id" < 20),
      docs.filter($"doc_id" >= 20 && $"doc_id" < 35),
      docs.filter($"doc_id" >= 35),
      flushers)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_st12_rs").toString
    def stage(b: org.apache.spark.sql.DataFrame, i: Int): Unit = {
      val tmp = s"$streamDir/.stage$i"
      b.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$streamDir/batch$i.parquet"))
      new java.io.File(s"$streamDir/batch$i.parquet")
        .setLastModified(1000000000000L + i * 60000L)
      ()
    }
    val outDir = graft.TempDirs.create("graft_st12_rs_out").toString
    val cp = graft.TempDirs.create("graft_st12_rs_cp").toString
    // first life: only the first two batches exist; the query drains
    // them — leftover buffers are mid-flight in the state store — and dies
    parts.take(2).zipWithIndex.foreach { case (b, i) => stage(b, i) }
    val q1 = Streams.startPackingQuery(spark, streamDir, outDir, cp)
    try q1.processAllAvailable() finally q1.stop()
    // second life: the rest of the corpus + flush arrive; the restarted
    // query must resume from the CHECKPOINTED leftovers, not from zero
    parts.drop(2).zipWithIndex.foreach { case (b, i) => stage(b, i + 2) }
    val q2 = Streams.startPackingQuery(spark, streamDir, outDir, cp)
    try q2.processAllAvailable() finally q2.stop()
    val got = Streams.packedResult(spark, outDir)
      .as[(Long, Long, Long, String)].collect().toVector
    val want = graft.operators.TextAnalysis.p06PackedSequences(spark, sf)
      .as[(Long, Long, Long, String)].collect().toVector
    assert(got == want, "restarted stream diverged from batch packing")
  }

  test("family purge deletes every gate dir now; the next gate call restages") {
    def gateDirsOnDisk: Set[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir"))
        .listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_st03_gate") ||
          f.getName.startsWith("graft_events_norm")).map(_.getName).toSet
    Streams.purgeGateDirs() // clean slate (absolute assertions below)
    val stale = gateDirsOnDisk // residue of crashed earlier JVMs, if any
    val before = Streams.st03StreamingGate(spark, sf).count()
    assert((gateDirsOnDisk -- stale).nonEmpty, "expected staged dirs on disk")
    // a single shared scale JVM must release the st family's multi-GB
    // staged sources + sinks as soon as the family finishes (Bench calls
    // this at the boundary under SPARK_GRAFT_EVICT_FAMILY)
    Streams.purgeGateDirs()
    assert((gateDirsOnDisk -- stale).isEmpty, "gate dirs survived the purge")
    // the staged-events cache was dropped with its backing file: the next
    // call restages from the corpus instead of copying a deleted path
    assert(Streams.st03StreamingGate(spark, sf).count() == before)
    Streams.purgeGateDirs()
  }

  test("changelog stream stop() terminates the poller promptly") {
    val table = graft.tables.GraftTable.createAs(spark,
      java.nio.file.Files.createTempDirectory("graft_st06_stop").toString + "/t",
      spark.read.parquet(s"$sf/orders.parquet").limit(10))
    val cs = new Streams.ChangelogStream(table, table.meta.currentSnapshotId.get,
      intervalMs = 3600000L, (_, _) => ()).start()
    Thread.sleep(50) // let the poller reach its sleep
    cs.stop()
    assert(!cs.isAlive, "poller thread survived stop()")
  }
}
