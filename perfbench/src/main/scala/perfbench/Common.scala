package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Command line of one benchmark process (see run.py, which builds it). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, dataDir: String, workDir: String, planFile: String,
    outFile: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("plan"), m("out"))
  }
}

/** Minimal JSON writer: the result file is the only structured output. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: java.math.BigDecimal => b.toPlainString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case r: org.apache.spark.sql.Row => value(r.toSeq)
    case x => str(x.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def write(path: String, json: String): Unit =
    Files.write(Paths.get(path), (json + "\n").getBytes(StandardCharsets.UTF_8))
}

object Stats {
  /** Linear-interpolated quantile, as numpy's default; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One timed operation of the closed loop. */
final case class OpRecord(id: Int, cls: String, kind: String, startMs: Long,
    startNs: Long, endNs: Long, error: Option[String]) {
  def ms: Double = (endNs - startNs) / 1e6
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
  def ok: Boolean = error.isEmpty
}

/** Runs operations one at a time (one client, closed loop), times them,
  * tags their Spark jobs with the operation id and keeps failures as data.
  */
final class Client(spark: org.apache.spark.sql.SparkSession, tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]

  def run[T](cls: String, kind: String)(body: => T): Option[T] = {
    val id = Client.nextId.getAndIncrement()
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpProperty, id.toString)
    tracer.beginOp(id, cls, kind)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Right(body) catch {
      case e: Throwable if !e.isInstanceOf[InterruptedException] => Left(e)
    }
    val t1 = System.nanoTime()
    tracer.endOp()
    sc.setLocalProperty(Tracer.OpProperty, null)
    ops += OpRecord(id, cls, kind, startMs, t0, t1, out.left.toOption.map(describe))
    out.toOption
  }

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
    val rmsg = if (root eq e) "" else
      s" <- ${root.getClass.getName}: ${Option(root.getMessage).getOrElse("")}"
    (msg + rmsg).replaceAll("\\s+", " ").take(400)
  }

  def of(cls: String): Seq[OpRecord] = ops.filter(_.cls == cls).toSeq
}

object Client {
  /** Operation ids are unique across clients, so warm-up jobs never count
    * towards a timed operation.
    */
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
}
