package graft.tools

import graft.Tables
import graft.ops.{NnGraph, VectorSearch}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measurement harness for `vs_nng_filtered`'s escalation knob: per SF,
  * the base-pass survivor-pool distribution, how many queries fall
  * under [[VectorSearch.FilterMinSurvivors]] (and so pay the widened
  * escalation pass), and the graded recall. The threshold is a
  * cost/quality knob — this prints the evidence it was set on.
  *
  * Run outside sbt with the usual classes + spark-jars classpath:
  *   java -cp target/scala-2.13/classes:SPARK_JARS -Xmx48g
  *     graft.tools.NngFilterAudit /root/testdata/sf0.1 [...]
  */
object NngFilterAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- args) {
      val qv = graft.util.Persist.stage(
        VectorSearch.int8Grid(spark, dir), eager = false)
      val (refined, init) = NnGraph.buildShared(qv, dir, "full")
      val pass = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
        .filter(col("label") === 7)
        .join(Tables.documents(spark, dir).filter(col("lang") === "de")
          .select(col("doc_id")), col("vec_id") === col("doc_id"))
        .select("vec_id")
      val qs = qv.filter(col("vec_id") % 100 === 3)
        .select(col("vec_id").as("q_id"), col("qd").as("qq"))
      val baseSurv = NnGraph.search(refined, init, qv, qs)
        .join(pass.select(col("vec_id").as("c_id")), "c_id")
      val counts = qs.select("q_id").join(
          baseSurv.groupBy("q_id").agg(countDistinct("c_id").as("n_surv")),
          Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("n_surv"), lit(0L)).as("n_surv"))
      val nPass = pass.count()
      val coverageLive = nPass <= VectorSearch.FilterCoverageCap
      val stats = counts.agg(
        count(lit(1)).as("queries"),
        min("n_surv").as("min"),
        expr("percentile_approx(n_surv, 0.5)").as("p50"),
        max("n_surv").as("max"),
        sum(when(col("n_surv") < VectorSearch.FilterMinSurvivors ||
            (lit(coverageLive) && col("n_surv") * 2L < nPass), 1L)
          .otherwise(0L)).as("deficient"),
        sum(when(col("n_surv") < VectorSearch.FilterMinSurvivors, 1L)
          .otherwise(0L)).as("by_count")).head()
      val n = qv.count()
      println(s"AUDIT $dir corpus=$n pass=$nPass (${100 * nPass / n}%) " +
        s"queries=${stats.getLong(0)} n_surv min=${stats.getLong(1)} " +
        s"p50=${stats.getLong(2)} max=${stats.getLong(3)} " +
        s"deficient=${stats.getLong(4)} (by_count=${stats.getLong(5)}, " +
        s"count<${VectorSearch.FilterMinSurvivors}, coverage " +
        s"${if (coverageLive) "LIVE" else "off"} cap=${VectorSearch.FilterCoverageCap})")
      val graded = VectorSearch.queries("vs_nng_filtered")(spark, dir)
      val head = graded.select("mean_recall_ppm", "below_floor").head()
      println(s"AUDIT $dir graded mean_recall_ppm=${head.getLong(0)} " +
        s"below_floor=${head.getLong(1)}")
      // What would FORCED escalation (every query re-searched at the
      // widened geometry) buy? The gap between this and the graded
      // number is the headroom the threshold rule is leaving on the
      // table at this SF.
      val fcorp = qv.join(pass, "vec_id")
      val forced = NnGraph.search(refined, init, qv, qs,
          NnGraph.Entries, NnGraph.EscBeam, NnGraph.EscHops)
        .join(pass.select(col("vec_id").as("c_id")), "c_id")
        .select("q_id", "c_id", "d2")
      val exact = fcorp.crossJoin(broadcast(qs))
        .select(col("q_id"), col("vec_id").as("c_id"),
          NnGraph.intD2(col("qd"), col("qq")).as("d2"))
      val wQ = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("d2"), col("c_id"))
      def top5(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("rn", row_number().over(wQ))
        .filter(col("rn") <= NnGraph.TopK).select("q_id", "c_id")
      val hits = top5(exact).join(top5(forced.distinct()), Seq("q_id", "c_id"))
        .count()
      val nEx = top5(exact).count()
      println(s"AUDIT $dir forced-escalation recall_ppm=${1000000L * hits / nEx}")
    }
    spark.stop()
  }
}
