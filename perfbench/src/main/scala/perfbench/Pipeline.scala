package perfbench

import graft.{GraftSession, SparkEntry}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, struct, sum, xxhash64}
import scala.collection.mutable

/** The LLM-data operator gates: passes over a fixed gate set drawn from
  * `Dedup`, `Similarity`, `TextAnalysis` and `Multimodal`, each gate run
  * through `SparkEntry.queries` under its `SparkEntry.executionConfs` and
  * consumed by hashing every output value. Figures come from complete
  * passes only, so every run weighs each gate the same.
  */
final class Pipeline(spark: SparkSession, a: Args, plan: Plan, tracer: Tracer) extends Workload {
  private val gates = plan.rows("gates").head.toSeq
  private val fns = SparkEntry.queries
  private val hashes = mutable.HashMap.empty[String, Row]
  private val mismatched = mutable.Set.empty[String]
  private var cursor = 0
  private def outDir(g: String) = s"${a.workDir}/gate-out/$g"

  def setup(i: Int): Unit =
    SparkEntry.prewarms.filter { case (g, _) => gates.contains(g) }
      .foreach { case (_, fn) => fn(spark, a.dataDir) }

  private def confs(g: String) = SparkEntry.executionConfs.getOrElse(g, Map.empty[String, String])

  /** The first warm-up pass writes each gate's full output for the oracle
    * check, and every timed pass must fingerprint to the same value; a
    * second, hashing pass lets the JIT settle before timing.
    */
  def warmup(c: Client): Unit = {
    gates.foreach { g =>
      GraftSession.withExecConfs(spark, confs(g)) {
        fns(g)(spark, a.dataDir).write.mode("overwrite").parquet(outDir(g))
      }
      hashes(g) = hash(spark.read.parquet(outDir(g)))
    }
    gates.foreach(g => run(c, g))
  }

  /** Fingerprint of a gate's output: the max row hash (the consuming
    * action of `graft.Bench`), with the row count and the sum of all row
    * hashes, so a pass that drops, adds or changes any row differs.
    */
  private def hash(out: DataFrame): Row =
    out.select(xxhash64(struct(out.columns.map(col): _*)).as("h"))
      .agg(max(col("h")), count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()

  def step(c: Client): Unit = {
    run(c, gates(cursor % gates.size))
    cursor += 1
  }

  private def run(c: Client, g: String): Unit =
    c.run(Pipeline.module(g), g) {
      GraftSession.withExecConfs(spark, confs(g)) {
        tracer.span(s"graft.operators.${Pipeline.module(g)}", g)(hash(fns(g)(spark, a.dataDir)))
      }
    }.foreach(h => if (hashes.get(g).exists(_ != h)) mismatched += g)

  /** The loop ends on a pass boundary: a partial pass is never timed. */
  override def complete: Boolean = cursor > 0 && cursor % gates.size == 0

  private def passes(c: Client): Seq[Seq[OpRecord]] =
    c.ops.toSeq.grouped(gates.size).filter(_.size == gates.size).toSeq

  def finish(c: Client): Map[String, Any] = {
    val oracles = SparkEntry.oracleSql
    Map(
      "gates" -> gates,
      "passes" -> passes(c).size,
      "mismatched" -> mismatched.toSeq.sorted,
      "oracles" -> gates.flatMap(g => oracles.get(g).map(g -> _)).toMap,
      "out_dir" -> s"${a.workDir}/gate-out")
  }

  def throughput(c: Client, elapsedS: Double): Double = {
    val ops = passes(c).flatten
    ops.count(_.ok) / (ops.map(_.ms).sum / 1e3)
  }

  def report(c: Client, elapsedS: Double): Seq[(String, Double)] =
    Seq("pipeline_pass_s" -> Stats.median(passes(c).map(_.map(_.ms).sum / 1e3)))
}

object Pipeline {
  val modules: Seq[(String, Set[String])] = Seq(
    "dedup" -> Dedup.entries.keySet, "similarity" -> Similarity.entries.keySet,
    "text" -> TextAnalysis.entries.keySet, "multimodal" -> Multimodal.entries.keySet)
  def module(gate: String): String = modules.find(_._2.contains(gate)).map(_._1).getOrElse("other")
}
