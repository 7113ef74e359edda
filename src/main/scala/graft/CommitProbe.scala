package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** r21 optimization instrument (not part of the driver contract): times
  * each GraftTable commit primitive — the shared machinery under the t/mv
  * families and the table-backed st gates — with per-phase wall and Spark
  * job counts, over `SPARK_GRAFT_PROBE_REPS` warm reps (default 3, first
  * rep reported separately as cold). The phase split tells which primitive
  * carries the per-commit fixed cost the hot gates pay 3-10× each.
  */
object CommitProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.tune(SparkSession.builder().master(s"local[$cpus]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()

    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs += 1
        if (sys.env.contains("SPARK_GRAFT_PROF_JOBS")) {
          val cs = js.stageInfos.lastOption.map(_.name).getOrElse("?")
          println(s"[probejob] stages=${js.stageInfos.size} $cs")
        }
        ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ()
    })
    def phase[A](rep: Int, name: String)(body: => A): A = {
      val j0 = jobs
      val t0 = System.nanoTime()
      val r = body
      // listener bus is async; a short drain keeps job counts attributable
      Thread.sleep(80)
      println(f"[commitprobe] rep$rep $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.3f s  jobs=${jobs - j0}")
      r
    }

    // floor probes: what a minimal job / tiny read / tiny write costs on
    // this box — the irreducible unit the per-commit job counts multiply
    if (sys.env.contains("SPARK_GRAFT_PROBE_FLOOR")) {
      val floorDir = TempDirs.create("graft_probe_floor").toString
      spark.range(1000).count()
      for (rep <- 1 to 3) {
        phase(rep, "range.count")(spark.range(1000).count())
        phase(rep, "range.write") {
          spark.range(1000).coalesce(1).write.mode("overwrite")
            .parquet(s"$floorDir/w$rep")
        }
        phase(rep, "tiny.read.count")(spark.read.parquet(s"$floorDir/w$rep").count())
        phase(rep, "tiny.read.agg") {
          spark.read.parquet(s"$floorDir/w$rep")
            .groupBy(col("id") % 3).count().count()
        }
        phase(rep, "range1.count")(spark.range(0, 1000, 1, 1).count())
        phase(rep, "agg.sp1") {
          GraftSession.withExecConfs(spark,
            Map("spark.sql.shuffle.partitions" -> "1",
              "spark.sql.adaptive.enabled" -> "false")) {
            spark.read.parquet(s"$floorDir/w$rep")
              .groupBy(col("id") % 3).count().count()
          }
        }
        phase(rep, "noop.empty") {
          spark.range(0, 1, 1, 1).filter(col("id") < 0).count()
        }
      }
      spark.stop(); return
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .orderBy(col("o_orderkey")).limit(3000)
    orders.count() // warm the source plan

    for (rep <- 1 to reps) {
      import graft.tables.{GraftTable, IncrementalAggView}
      def tmp(p: String): String = TempDirs.create(p).toString + "/t"
      val t0all = System.nanoTime()
      val base = phase(rep, "createAs(3000)") {
        GraftTable.createAs(spark, tmp("graft_probe_b"), orders)
      }
      val view = phase(rep, "mvCreate") {
        IncrementalAggView.create(spark, tmp("graft_probe_v"), base,
          Seq("o_orderstatus"), Seq("o_totalprice"))
      }
      phase(rep, "append(500)") {
        base.append(orders.limit(500)
          .withColumn("o_orderkey", col("o_orderkey") + 900000000L))
      }
      phase(rep, "refresh(append)") { view.refresh() }
      phase(rep, "delete(cow)") { base.delete("o_orderkey % 7 = 0") }
      phase(rep, "refresh(delete)") { view.refresh() }
      phase(rep, "upsertMor(200)") {
        base.upsertMergeOnRead(orders.limit(200)
          .withColumn("o_totalprice", lit(1111.5)), Seq("o_orderkey"))
      }
      phase(rep, "refresh(upsert)") { view.refresh() }
      phase(rep, "finalRead") { view.toDF().collect() }
      println(f"[commitprobe] rep$rep TOTAL ${(System.nanoTime() - t0all) / 1e9}%7.3f s")
    }
    spark.stop()
  }
}
