package graft

import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Every search serve is stateless: a micro-batch cuts each query's
  * top-k inside the batch, so serving a query id a second time returns
  * the same k distinct hits instead of merging with the first answer,
  * and no serve or rate harness carries a state-store operator. */
class StreamServeSpec extends SparkSpec {

  private type Hit = (Long, Long, Long, Long) // (q_id, rank, c_id, dist)
  private def key(r: Row): Hit = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))

  /** The 5 registered-twin queries (vec_id % 100 == 0) plus 3 others. */
  private val queryIds = Seq(0L, 100L, 200L, 300L, 400L, 1L, 2L, 3L)

  test("the same 8 queries served in two micro-batches: k distinct hits each time, equal to the twin") {
    SparkEntry.queries("vs_ivf_store")(spark, sf).collect()
    SparkEntry.queries("vs_lsh_store")(spark, sf).collect()
    val vecs = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    assert(vecs.map(_._1).sorted == queryIds.sorted)
    val staticQueries = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding"))
    // (twin key, per-batch serve, distance name, fills all k)
    val legs: Seq[(String, DataFrame => DataFrame, String, Boolean)] = Seq(
      ("stream_search", Streaming.exactServe(spark, sf), "d2", true),
      ("stream_search_ivf", Streaming.trainedIvfServe(spark, sf), "d2", true),
      ("stream_search_stored", Streaming.storedIvfServe(spark, sf), "d2", true),
      ("stream_search_lsh", Streaming.lshServe(spark, sf,
        spark.table(graft.ops.VectorSearch.storedTable("graft_lsh_vecs", sf))), "nd", false))
    for ((twinKey, serve, dist, fillsK) <- legs) {
      // the twin: the same serve on a plain batch frame of the 8 queries,
      // which for the registered queries is the registered twin's answer
      val twin = Streaming.ranked(serve(staticQueries), dist).collect().map(key).toSeq
      val registered = SparkEntry.queries(twinKey)(spark, sf).collect().map(key).toSeq
      assert(registered.nonEmpty &&
        twin.filter(_._1 % 100 == 0).sorted == registered.sorted,
        s"$twinKey: the batch serve of the 8 queries diverged from the registered twin")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
      val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Hit]]
      val q = Streaming.serveEach(ms.toDF().toDF("q_id", "embedding"), serve,
        df => batches.synchronized { batches += Streaming.ranked(df, dist).collect().map(key).toSeq })
        .start()
      try {
        for (_ <- 1 to 2) { ms.addData(vecs); q.processAllAvailable() }
      } finally q.stop()
      assert(batches.size == 2, s"$twinKey: ${batches.size} micro-batches, not 2")
      for ((got, i) <- batches.zipWithIndex) {
        for ((qid, hits) <- got.groupBy(_._1)) {
          val cids = hits.sortBy(_._2).map(_._3)
          assert(cids.distinct == cids, s"$twinKey batch $i q=$qid repeated a hit: $cids")
          if (fillsK) assert(cids.size == Streaming.SearchTopK,
            s"$twinKey batch $i q=$qid served ${cids.size} hits, not ${Streaming.SearchTopK}")
        }
        assert(got.sorted == twin.sorted, s"$twinKey batch $i diverged from the twin")
      }
      assert(q.recentProgress.nonEmpty && q.recentProgress.forall(_.stateOperators.isEmpty),
        s"$twinKey serve must run with zero state-store operators")
    }
  }

  test("no rate harness reports a state-store operator in its progress") {
    val harnesses: Seq[(String, (org.apache.spark.sql.SparkSession, String, Int, Int) => Seq[Double])] = Seq(
      "ivf" -> Streaming.serveIvfRate, "ivf_pruned" -> Streaming.serveIvfRatePruned,
      "lsh" -> Streaming.serveLshRate, "lsh_warm" -> Streaming.serveLshRateWarm,
      "lsh_pruned" -> Streaming.serveLshRatePruned)
    for ((name, run) <- harnesses) {
      val tap = new Streaming.ProgressTap(spark)
      val lats = try run(spark, sf, 1, 8) finally tap.close()
      assert(lats.size == 1 && lats.forall(_ > 0.0), s"$name lats=$lats")
      // the warmup batch and the timed batch
      assert(tap.progress.count(_.numInputRows > 0) == 2,
        s"$name: ${tap.progress.size} progress events")
      assert(tap.progress.forall(_.stateOperators.isEmpty),
        s"$name harness must run with zero state-store operators")
    }
  }
}
