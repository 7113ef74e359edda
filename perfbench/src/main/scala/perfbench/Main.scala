package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark process: `--workload scan|ingest|pipeline`. Builds the
  * session on `local[N]` (N = available processors), sets the workload up
  * several times (the last fixture is used), warms up, runs the closed loop
  * for `--seconds`, then checks, measures and writes the result file.
  */
object Main {
  /** Set-ups per run; `setup_s` takes their median. */
  val Setups = 2

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]").appName(s"perfbench-${a.workload}")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/spark-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(a.trace)
    if (a.trace) {
      spark.sparkContext.addSparkListener(tracer.listener)
      spark.listenerManager.register(tracer.queryListener)
    }
    val plan = Plan.load(a.planFile)
    val wl: Workload = a.workload match {
      case "scan" => new Scan(spark, a, plan, tracer)
      case "ingest" => new Ingest(spark, a, plan, tracer)
      case "pipeline" => new Pipeline(spark, a, plan, tracer)
    }
    val setupS = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      wl.setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmup(new Client(spark, new Tracer(false)))
    val warmupS = (System.nanoTime() - w0) / 1e9

    val client = new Client(spark, tracer)
    tracer.live = true
    val gc0 = gcTotals
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    while (System.nanoTime() < deadline || !wl.complete) wl.step(client)
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val gc1 = gcTotals

    if (a.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val checks = wl.finish(client)
    val heapMb = retainedHeapMb()
    if (a.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val e2e = Seq(
      "setup_s" -> (sessionS + Stats.median(setupS) + warmupS),
      "ops_per_s" -> wl.throughput(client, elapsedS),
      "heap_mb" -> heapMb)
    val failed = client.ops.count(!_.ok)
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else Layers.of(tracer, client, checks) ++ Map(
        "jvm.gc_ms" -> (gc1._1 - gc0._1).toDouble,
        "jvm.gc_count" -> (gc1._2 - gc0._2).toDouble,
        "jvm.heap_mb" -> heapMb)
    val env = Map(
      "nproc" -> cores, "local_n" -> cores,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version, "seed" -> a.seed,
      "seconds" -> a.seconds, "elapsed_s" -> elapsedS, "setups" -> Setups,
      "session_s" -> sessionS, "setup_each_s" -> setupS, "warmup_s" -> warmupS)
    val result = Json.obj(Seq(
      "workload" -> a.workload, "env" -> env,
      "attempted" -> client.ops.size, "failed" -> failed,
      "errors" -> client.ops.filter(!_.ok).map(o => Map(
        "id" -> o.id, "class" -> o.cls, "kind" -> o.kind, "error" -> o.error.get)),
      "ops" -> client.ops.groupBy(o => s"${o.cls}.${o.kind}").map { case (k, os) =>
        k -> Map("n" -> os.size, "p50_ms" -> Workload.pct(os.toSeq, 0.5))
      },
      "op_ms" -> client.ops.map(o => Seq(o.cls, o.kind, o.ms)),
      "e2e" -> e2e.toMap,
      "report" -> wl.report(client, elapsedS).toMap,
      "layers" -> layers,
      "checks" -> checks,
      "trace" -> (if (a.trace) Layers.detail(tracer, client) else Map.empty)))
    Json.write(a.outFile, result)
    spark.stop()
  }

  private def gcTotals: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Heap still in use after two full collections. */
  private def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
