package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The concurrent-writer commit protocol (r6): CAS on the metadata
  * version file + bounded rebase-retry for appends — the behavior the
  * reference's engines get from a catalog's compare-and-swap
  * (Iceberg `commit.retry.num-retries`).
  */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_cc").toString + "/t"
  private def conf = spark.sparkContext.hadoopConfiguration

  test("casPublish: exactly one writer wins a version, content is the winner's") {
    val dir = Files.createTempDirectory("graft_cas").toString
    val p = s"$dir/v2.metadata.json"
    assert(MetaIO.casPublish(conf, p, "winner"))
    assert(!MetaIO.casPublish(conf, p, "loser"))
    assert(MetaIO.readString(conf, p) == "winner")
    // no temp litter
    val left = new java.io.File(dir).listFiles().map(_.getName).filter(_.contains(".tmp-"))
    assert(left.isEmpty, s"temp files left behind: ${left.toSeq}")
  }

  test("readers probe past a stale version hint (crash between publish and hint)") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val m = t.meta
    // simulate a writer that CAS-published v2 but died before the hint write
    assert(MetaIO.casPublish(conf, MetaIO.metadataPath(loc, m.version + 1),
      MetaIO.metaToJson(m.copy(version = m.version + 1))))
    assert(MetaIO.readString(conf, MetaIO.versionHintPath(loc)).trim.toInt == m.version)
    assert(MetaIO.currentVersion(conf, loc).contains(m.version + 1))
    assert(t.meta.version == m.version + 1)
  }

  test("concurrent appends all land via rebase-retry; history stays linear") {
    val writers = 6
    val t = GraftTable.createAs(spark, tmp(), Seq((0L, "base")).toDF("k", "v"))
    t.setProperties(Map(TableFormat.CommitRetries -> writers.toString))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = (1 to writers).map { i =>
        Future {
          // each writer gets its OWN handle, like separate jobs would
          GraftTable.load(spark, t.location).append(Seq((i.toLong, s"w$i")).toDF("k", "v"))
        }
      }
      Await.result(Future.sequence(futs), 180.seconds)
    } finally pool.shutdown()
    val m = t.meta
    // no lost updates: every writer's row is present exactly once
    val rows = t.toDF().as[(Long, String)].collect().toSeq
    assert(rows.size == 1 + writers, s"got ${rows.size} rows: $rows")
    assert(rows.map(_._1).sorted == (0L to writers.toLong))
    // one commit per writer (+ property change), all on one linear ancestry
    assert(m.snapshots.count(_.operation == "append") == 1 + writers)
    assert(m.currentAncestors.size == m.snapshots.size)
    // every snapshot's files carry the seq of the commit that added them
    val head = t.currentFiles()
    assert(head.map(_.seq).distinct.size == 1 + writers)
  }

  test("mid-flight non-conflicting append: loser rebases and retries once") {
    val loc = tmp()
    GraftTable.createAs(spark, loc, Seq((0L, "base")).toDF("k", "v"))
    val t1 = GraftTable.load(spark, loc)
    var attempts = 0
    t1.appendWithRetry(Seq((1L, "mine")).toDF("k", "v"), onAttempt = { a =>
      attempts = a + 1
      if (a == 0) // another writer wins the version while we're in flight
        GraftTable.load(spark, loc).append(Seq((2L, "theirs")).toDF("k", "v"))
    })
    assert(attempts == 2, s"expected one rebase retry, saw $attempts attempt(s)")
    val rows = GraftTable.load(spark, loc).toDF().as[(Long, String)].collect().toSet
    assert(rows == Set((0L, "base"), (1L, "mine"), (2L, "theirs")))
  }

  test("racing appends both fold ANALYZE sketches; NDV stays exact (r8)") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.analyze(Seq("k"))
    assert(t.columnNdv("k").contains(100L))
    val t1 = GraftTable.load(spark, loc)
    // another writer appends (and folds) while our append is in flight:
    // the loser must re-merge its sketches against the WINNER's stats file
    t1.appendWithRetry((101L to 150L).map(i => (i, s"v$i")).toDF("k", "v"),
      onAttempt = { a =>
        if (a == 0)
          GraftTable.load(spark, loc)
            .append((201L to 260L).map(i => (i, s"v$i")).toDF("k", "v"))
      })
    val fresh = GraftTable.load(spark, loc)
    assert(fresh.toDF().count() == 210)
    assert(fresh.columnNdv("k").contains(210L),
      s"both folds must survive the race, got ${fresh.columnNdv("k")}")
  }

  test("racing appends both fold partition stats; counters stay manifest-exact (r9)") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc,
      (1L to 100L).map(i => (i, s"p${i % 3}")).toDF("k", "p"),
      Seq(PartitionField("p", "identity", "part")))
    t.computePartitionStats()
    val t1 = GraftTable.load(spark, loc)
    // another writer appends (and folds) while our append is in flight:
    // the loser must re-merge its per-partition totals against the
    // WINNER's payload, not its own stale base
    t1.appendWithRetry((101L to 150L).map(i => (i, s"p${i % 3}")).toDF("k", "p"),
      onAttempt = { a =>
        if (a == 0)
          GraftTable.load(spark, loc)
            .append((201L to 260L).map(i => (i, s"p${i % 3}")).toDF("k", "p"))
      })
    val fresh = GraftTable.load(spark, loc)
    val pp = fresh.partitionStats
    assert(pp.nonEmpty, "payload must stay live through the race")
    val live = fresh.currentFiles().groupBy(f =>
        f.partitionValues.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/"))
      .map { case (p, fs) => (p, fs.size.toLong, fs.map(_.recordCount).sum) }
      .toSeq.sortBy(_._1)
    assert(pp.get.entries.map(e => (e.partition, e.dataFileCount, e.dataRecordCount))
      == live, s"both folds must survive the race, got ${pp.get.entries}")
    assert(pp.get.entries.map(_.dataRecordCount).sum == 210L)
  }

  test("mid-flight COMPACTION: an upsert rebases onto the row-preserving winner") {
    val loc = tmp()
    GraftTable.createAs(spark, loc,
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v").repartition(4))
    val t1 = GraftTable.load(spark, loc)
    var attempts = 0
    t1.mergeBatchWithRetry(Seq((1L, "upd"), (100L, "new")).toDF("k", "v"),
      None, Seq("k"), onAttempt = { a =>
        attempts = a + 1
        if (a == 0) { GraftTable.load(spark, loc).compact(); () }
      })
    assert(attempts == 2, s"expected one rebase retry, saw $attempts attempt(s)")
    val t = GraftTable.load(spark, loc)
    val byKey = t.toDF().as[(Long, String)].collect().toMap
    assert(byKey.size == 41 && byKey(1L) == "upd" && byKey(100L) == "new")
    // the upsert's equality delete applies across the compacted files
    assert(t.toDF().filter(col("v") === "v1").count() == 0)
  }

  test("mid-flight APPEND refuses an upsert rebase (rows changed under it)") {
    val loc = tmp()
    GraftTable.createAs(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val t1 = GraftTable.load(spark, loc)
    intercept[java.util.ConcurrentModificationException] {
      t1.mergeBatchWithRetry(Seq((1L, "upd")).toDF("k", "v"), None, Seq("k"),
        onAttempt = { a =>
          if (a == 0) {
            GraftTable.load(spark, loc).append(Seq((2L, "b")).toDF("k", "v")); ()
          }
        })
    }
  }

  test("mid-flight CONFLICTING commit (schema change) is refused, not rebased") {
    val loc = tmp()
    GraftTable.createAs(spark, loc, Seq((0L, "base")).toDF("k", "v"))
    val t1 = GraftTable.load(spark, loc)
    intercept[java.util.ConcurrentModificationException] {
      t1.appendWithRetry(Seq((1L, "mine")).toDF("k", "v"), onAttempt = { a =>
        if (a == 0) GraftTable.load(spark, loc).addColumn("extra", org.apache.spark.sql.types.StringType)
      })
    }
    // the losing writer's rows never became visible
    assert(!GraftTable.load(spark, loc).toDF().select($"k", $"v")
      .as[(Long, String)].collect().toSet.contains((1L, "mine")))
  }

  // Conflict outcome per writer shape: the writer is paused once its
  // manifests are durable (the `manifests-written` seam), a second handle
  // lands an append, and the writer's version CAS then loses. An append
  // rebases onto the winner; every other shape refuses, and the table
  // keeps the winner's state with none of the loser's rows.
  private val base = (0L until 20L).map(k => (k, s"v$k"))
  private val theirs = (50L, "theirs")
  private val conflictShapes: Seq[(String, GraftTable => GraftTable, Seq[(Long, String)])] = Seq(
    ("append", _.append(Seq((100L, "mine")).toDF("k", "v")), base :+ (100L -> "mine")),
    ("CoW delete", _.delete("k % 2 = 0"), Nil),
    ("MOR positional delete", _.deleteMergeOnReadPositions("k % 2 = 0"), Nil),
    ("DV delete", _.deleteMergeOnReadDV("k % 2 = 0"), Nil),
    ("equality delete",
      _.deleteMergeOnReadEquality((0L until 20L by 2).toDF("k"), Seq("k")), Nil),
    ("compaction", _.compact(), Nil),
    ("cluster", _.cluster(Seq("k")), Nil),
    ("MOR upsert",
      _.upsertMergeOnRead(Seq((1L, "mine"), (100L, "mine")).toDF("k", "v"), Seq("k")), Nil),
    ("update", _.update("k < 5", Map("v" -> "'mine'")), Nil),
    ("mergeInto", _.mergeInto(Seq((1L, "mine"), (100L, "mine")).toDF("k", "v"), Seq("k")), Nil))

  for ((shape, op, rebased) <- conflictShapes) {
    test(s"append landing mid-commit: $shape " +
        (if (rebased.nonEmpty) "rebases" else "refuses")) {
      val loc = tmp()
      GraftTable.createAs(spark, loc, base.take(10).toDF("k", "v"))
        .append(base.drop(10).toDF("k", "v"))
      var fired = 0
      MetaIO.commitFault = { stage =>
        if (stage == "manifests-written") {
          MetaIO.commitFault = null
          fired += 1
          GraftTable.load(spark, loc).append(Seq(theirs).toDF("k", "v"))
        }
      }
      val outcome =
        try scala.util.Try(op(GraftTable.load(spark, loc)))
        finally MetaIO.commitFault = null
      assert(fired == 1, s"$shape: the seam fired $fired times")
      val t = GraftTable.load(spark, loc)
      val rows = t.toDF().select("k", "v").as[(Long, String)].collect().toSeq.sorted
      if (rebased.nonEmpty) {
        assert(outcome.isSuccess, s"$shape: expected a rebase, got $outcome")
        assert(rows == (rebased :+ theirs).sorted)
      } else {
        assert(outcome.failed.toOption.exists(
          _.isInstanceOf[java.util.ConcurrentModificationException]),
          s"$shape: expected ConcurrentModificationException, got $outcome")
        assert(rows == (base :+ theirs).sorted, s"$shape: table is not the winner's")
        assert(t.meta.currentSnapshot.map(_.operation).contains("append"))
      }
    }
  }

  test("mid-flight predicate delete is conflicting for an append (would capture new rows)") {
    val loc = tmp()
    GraftTable.createAs(spark, loc, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val t1 = GraftTable.load(spark, loc)
    intercept[java.util.ConcurrentModificationException] {
      t1.appendWithRetry(Seq((2L, "b2")).toDF("k", "v"), onAttempt = { a =>
        if (a == 0) GraftTable.load(spark, loc).deleteMergeOnRead("v = 'b'")
      })
    }
  }
}
