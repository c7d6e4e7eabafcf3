package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** One timed call: which layer's entry point it entered, its wall time,
  * and (traced runs only) the Spark runtime totals of its jobs. */
final case class Call(layer: String, op: String, phase: String, wallMs: Double,
    ok: Boolean, stats: CallStats)

/** Everything one run measures, plus the helpers that time calls into the
  * product. `phase` is "cold" or "warm" for timed work and "check" for the
  * untimed checks after the warm units. */
final class Ctx(val spark: SparkSession, val dir: String, val work: String,
    val trace: Option[Trace]) {
  val calls = mutable.ArrayBuffer.empty[Call]
  /** Latencies (ms) of the workload's unit of work, warm phase only. */
  val samples = mutable.ArrayBuffer.empty[Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Outputs the runner compares with the DuckDB oracle: key -> parquet dir. */
  val oracleOutputs = mutable.LinkedHashMap.empty[String, String]
  var phase = "cold"
  var failed = 0
  private var seq = 0

  /** Time `body` as one call into `layer`. A throwing call is counted as
    * failed and yields None; it never becomes a fast result. */
  def call[T](layer: String, op: String)(body: => T): Option[T] = {
    seq += 1
    spark.sparkContext.setJobGroup(s"perfbench-$seq", s"$layer:$op", interruptOnCancel = false)
    trace.foreach(_.begin())
    val t0 = System.nanoTime()
    val res = try Some(body) catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $layer:$op failed: $e")
        e.printStackTrace()
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val st = trace.map(_.end(spark.sparkContext)).getOrElse(CallStats())
    spark.sparkContext.clearJobGroup()
    if (res.isEmpty) failed += 1
    calls += Call(layer, op, phase, ms, res.isDefined, st)
    res
  }

  def check(name: String, ok: Boolean, info: String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name $info")
    checks += ((name, ok, info))
  }

  /** Persist a collected output so the runner can compare it with the
    * key's DuckDB oracle. The rows are the ones the timed call returned. */
  def keepForOracle(name: String, df: DataFrame, rows: Array[Row]): Unit = {
    val path = s"$work/outputs/$name"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
    oracleOutputs(name) = path
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The highest percentile p (in steps of 5) with at least ten samples
    * above it, or None when there are fewer than twenty samples. */
  def tailPercentile(n: Int): Option[Int] =
    (95 to 50 by -5).find(p => n - math.ceil(n * p / 100.0) >= 10)

  /** Order-independent content hash of collected rows. */
  def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update(10.toByte)
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Minimal JSON writer for the run report (no dependency beyond Scala). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
