package perfbench

import graft.tables.GraftTable
import scala.io.Source

/** One workload: set-up, an untimed warm-up, closed-loop steps, and the
  * checks and figures read after the timed loop.
  */
trait Workload {
  /** Build fixture number `i` (set-up is repeated; the last one is used). */
  def setup(i: Int): Unit
  def warmup(c: Client): Unit
  def step(c: Client): Unit
  /** Guards and results for verification, read after the timed loop. */
  def finish(c: Client): Map[String, Any]
  /** The workload's own figures, under the names run.py prints. */
  def report(c: Client, elapsedS: Double): Seq[(String, Double)]
  /** Client operations completed per second. */
  def throughput(c: Client, elapsedS: Double): Double
  /** False while the loop must go on past its deadline to close a round. */
  def complete: Boolean = true
}

object Workload {
  /** Quantile over operations, a failed one counting as slower than any. */
  def pct(ops: Seq[OpRecord], q: Double): Double =
    Stats.quantile(ops.map(o => if (o.ok) o.ms else Double.PositiveInfinity), q)
}

/** The workload plan run.py writes: one tab-separated record per line,
  * the first field naming the record.
  */
final class Plan(lines: Seq[Array[String]]) {
  def rows(key: String): Seq[Array[String]] = lines.filter(_.head == key).map(_.tail)
  def ints(key: String): Seq[Int] = rows(key).head.toSeq.map(_.toInt)
}

object Plan {
  def load(path: String): Plan = {
    val src = Source.fromFile(path, "UTF-8")
    try new Plan(src.getLines().filter(_.nonEmpty).map(_.split('\t')).toVector)
    finally src.close()
  }
}

object Fixture {
  /** Files and bytes of a table's current snapshot. */
  def describe(t: GraftTable): Map[String, Long] = {
    val files = t.currentFiles()
    Map("files" -> files.size.toLong, "bytes" -> files.map(_.sizeBytes).sum)
  }

  /** Bytes of every file under a directory. */
  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val walk = java.nio.file.Files.walk(p)
      try {
        var n = 0L
        walk.forEach(f => if (java.nio.file.Files.isRegularFile(f)) n += java.nio.file.Files.size(f))
        n
      } finally walk.close()
    }
  }
}
