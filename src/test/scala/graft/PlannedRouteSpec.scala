package graft

import graft.ops.VectorSearch
import org.apache.spark.sql.Row

/** The three-arm cost-based router (`vs_planned_route`): the cost rule's
  * routing at real sizes, all three arms driven through cost overrides,
  * the brute arm's exactness, and the index arms' grading sanity.
  */
class PlannedRouteSpec extends SparkSpec {

  private def byPred(rows: Array[Row]): Map[String, (String, Long, Long)] =
    rows.groupBy(_.getAs[String]("pred")).map { case (p, rs) =>
      p -> ((rs.head.getAs[String]("plan"), rs.head.getAs[Long]("n_pass"),
        rs.head.getAs[Long]("n_est")))
    }

  test("real costs at sf0.001: thin predicates brute, fat predicate IVF") {
    val m = byPred(SparkEntry.queries("vs_planned_route")(spark, sf).collect())
    assert(m("p1_thin")._1 == "brute" && m("p2_tiny")._1 == "brute")
    assert(m("p3_fat")._1 == "ivf",
      s"fat predicate should cross the IVF cost at n=500: $m")
    // the cost crossing is arithmetic, not accident: est > the
    // occupancy-derived cost the router actually read
    assert(m("p3_fat")._3 > VectorSearch.plannerStatsIvfCost(spark, sf))
  }

  test("skew-aware cost(IVF): occupancy flips the route where the uniform model mis-routes") {
    // Planted skewed-cell corpus: 360 of 400 vectors are IDENTICAL, so
    // Lloyd collapses them into one giant cell — probing nprobe cells
    // really scores ~the whole corpus. The uniform n·nprobe/k model
    // prices IVF at 150 and mis-routes the 250-row predicate to IVF;
    // the ANALYZE-persisted occupancy prices it at its true ~380+ and
    // routes brute (r16 verdict #7).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-skewcells").toString
    graft.util.Persist.deleteOnExit(new java.io.File(dir))
    val dim = 64
    val v0 = (0 until dim).map(i => 0.1f + 0.01f * (i % 7))
    def spread(id: Int) = (0 until dim).map(i =>
      (((id * 31 + i * 17) % 13) - 6) / 6.0f)
    (0L until 400L).map { id =>
      (id, if (id < 360) v0 else spread(id.toInt), if (id < 250) 7 else 1)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    (0L until 400L).map(id => (id, "zz")).toDF("doc_id", "lang")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val occRouted = byPred(SparkEntry.queries("vs_planned_route")(spark, dir).collect())
    val occCost = VectorSearch.plannerStatsIvfCost(spark, dir)
    val uniformCost = VectorSearch.plannerStatsTotalN(spark, dir) *
      VectorSearch.IvfTrainedNprobe / graft.ops.IvfIndex.Cells
    val uniRouted = byPred(VectorSearch.vsPlannedRouteWith(spark, dir,
      uniformCost, VectorSearch.PlanBruteCutoff).collect())
    info(s"uniform cost=$uniformCost, occupancy cost=$occCost, " +
      s"est(p3)=${occRouted("p3_fat")._3}")
    assert(occCost > uniformCost, "planted skew must inflate the occupancy cost")
    assert(uniformCost < occRouted("p3_fat")._3 && occRouted("p3_fat")._3 <= occCost,
      "the estimate must sit between the two costs for the flip to be meaningful")
    assert(uniRouted("p3_fat")._1 == "ivf",
      s"the uniform model should mis-route the fat predicate to IVF: $uniRouted")
    assert(occRouted("p3_fat")._1 == "brute",
      s"the occupancy model must route it brute: $occRouted")
  }

  test("cost overrides drive every arm, and routing tracks argmin") {
    // graph forced: IVF priced out, graph cheaper than every estimate
    val g = byPred(VectorSearch.vsPlannedRouteWith(spark, sf,
      costIvf = Long.MaxValue, costGraph = 1L).collect())
    assert(g.values.forall(_._1 == "graph"), s"graph not forced: $g")
    // ivf forced: brute priced out of the fat predicate only
    val i = byPred(VectorSearch.vsPlannedRouteWith(spark, sf,
      costIvf = 100L, costGraph = Long.MaxValue - 1).collect())
    assert(i("p3_fat")._1 == "ivf" && i("p2_tiny")._1 == "brute", s"$i")
    // brute forced: both indexes priced out relative to every estimate
    val b = byPred(VectorSearch.vsPlannedRouteWith(spark, sf,
      costIvf = Long.MaxValue, costGraph = Long.MaxValue).collect())
    assert(b.values.forall(_._1 == "brute"), s"brute not forced: $b")
  }

  test("brute rows grade perfect; index arms grade sane and complete") {
    val rows = SparkEntry.queries("vs_planned_route")(spark, sf).collect()
    val (brute, indexed) = rows.partition(_.getAs[String]("plan") == "brute")
    assert(brute.nonEmpty && indexed.nonEmpty)
    // the brute arm IS the exact truth
    assert(brute.forall(r =>
      r.getAs[Long]("n_hits") == r.getAs[Long]("n_exact")))
    // every query graded on every predicate, n_exact = TopK
    val nQ = rows.map(_.getAs[Long]("q_id")).distinct.length
    assert(rows.length == 3 * nQ)
    // exact truth is top-K, capped by the predicate's own pass size
    assert(rows.forall(r => r.getAs[Long]("n_exact") ==
      math.min(graft.ops.NnGraph.TopK.toLong, r.getAs[Long]("n_pass"))))
    // the IVF arm finds a nonzero share (nprobe=3 of 8 cells)
    val ivfHits = indexed.filter(_.getAs[String]("plan") == "ivf")
      .map(_.getAs[Long]("n_hits")).sum
    assert(ivfHits > 0, "IVF arm found nothing at all")
  }
}
