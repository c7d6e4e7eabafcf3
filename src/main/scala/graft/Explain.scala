package graft
import org.apache.spark.sql.SparkSession
/** Plan review tool: the formatted physical plan of each query (or the
  * ones named in args) at the SF dir in `SPARK_GRAFT_SF_DIR`. Used to
  * audit pushdown (PushedFilters/ReadSchema), join strategies (broadcast
  * vs shuffle), and WholeStageCodegen coverage.
  *
  * Prints to stdout by default. With `--out <dir> <suffix>` each plan is
  * written to `<dir>/<query><suffix>.txt` instead — the plan evidence of
  * an optimization round (plans/rNN/<query>_before.txt / _after.txt):
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Explain --out plans/r19 _before q1 q2 ..."
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (out, queries) = args.toSeq match {
      case "--out" +: dir +: suffix +: rest => (Some((dir, suffix)), rest)
      case "--out" +: _ => sys.error("usage: Explain [--out <dir> <suffix>] [query...]")
      case rest => (None, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (queries.nonEmpty) queries else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val plan =
        try Right(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => Left(e.getMessage) }
      (plan, out) match {
        case (Left(msg), _) => println(s"[explain] $name failed: $msg")
        case (Right(txt), Some((dir, suffix))) =>
          val d = java.nio.file.Paths.get(dir)
          java.nio.file.Files.createDirectories(d)
          java.nio.file.Files.write(d.resolve(s"$name$suffix.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[explain] wrote $name$suffix (${txt.length} chars)")
        case (Right(txt), None) =>
          println(s"\n===================== $name =====================")
          println(txt)
      }
    }
    spark.stop()
  }
}
