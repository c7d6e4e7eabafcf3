package graft

import graft.streaming.Streaming
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Streaming serve from the STORED LSH index (`stream_search_lsh`):
  * signature hashing at the geometry frozen at store time, band-key
  * per-micro-batch join against the reloaded band table, candidate-id
  * rescore, DISTINCT bounded top-k (multi-band collisions must not
  * double-fill the k), cold-session reproducibility.
  */
class StreamLshSpec extends SparkSpec {

  private def key(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))

  test("cold session: stored-band batch twin reproduces the warm run; band table is a FileScan") {
    SparkEntry.queries("vs_lsh_store")(spark, sf).collect()
    val warm = SparkEntry.queries("stream_search_lsh")(spark, sf).collect()
    val cold = spark.newSession()
    val served = SparkEntry.queries("stream_search_lsh")(cold, sf).collect()
    assert(served.nonEmpty && served.map(key).toSeq == warm.map(key).toSeq,
      "stored-band serve diverged across sessions")
    val plan = cold.table(
      graft.ops.VectorSearch.storedTable("graft_lsh_bands", sf))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("FileScan parquet"), s"not a FileScan:\n$plan")
  }

  test("the rescore side reads the bucketed vecs FileScan, not a staged corpus copy") {
    // r16 verdict #2: the exact-cosine rescore must come from the
    // (vec_id, cv) catalog table written beside the bands at store
    // time — a column-pruned bucketed FileScan — never from a pinned
    // in-memory corpus copy (which cannot survive 100×).
    val served = SparkEntry.queries("stream_search_lsh")(spark, sf)
    val vecsTable = graft.ops.VectorSearch.storedTable("graft_lsh_vecs", sf)
    val plan = served.queryExecution.executedPlan.toString()
    assert(plan.contains(vecsTable),
      s"serve plan does not read $vecsTable:\n$plan")
    val vecsPlan = spark.table(vecsTable).queryExecution.executedPlan.toString()
    assert(vecsPlan.contains("FileScan parquet"), s"not a FileScan:\n$vecsPlan")
    assert(spark.catalog.listColumns(vecsTable)
      .collect().exists(c => c.name == "vec_id" && c.isBucket),
      s"$vecsTable is not bucketed by vec_id")
    // build side: the bounded CANDIDATE set must build the hash
    // relation (BuildLeft) and the corpus scan must stream through it —
    // Spark left alone broadcasts the under-threshold vecs TABLE, a
    // per-micro-batch corpus broadcast that cannot survive 100×
    val rescoreJoins = plan.linesIterator
      .filter(_.contains("BroadcastHashJoin [vec_id")).toSeq
    assert(rescoreJoins.nonEmpty, s"no rescore BroadcastHashJoin found:\n$plan")
    assert(rescoreJoins.forall(_.contains("BuildLeft")),
      s"rescore join must build the candidate side, not the corpus:\n$rescoreJoins")
  }

  test("the STREAM leg over the stored band table ≡ its batch twin") {
    SparkEntry.queries("vs_lsh_store")(spark, sf).collect()
    val cold = spark.newSession()
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = Streaming.vsSearchLshStream(cold, sf,
      df => got.synchronized { got ++= Streaming.ranked(df, "nd").collect().map(key) })
    q.awaitTermination(120000)
    val streamed = got.toSet
    val batch = SparkEntry.queries("stream_search_lsh")(cold, sf)
      .collect().map(key).toSet
    assert(streamed.nonEmpty && streamed == batch,
      "stored-band streaming serve diverged from its batch twin")
    assert(q.recentProgress.nonEmpty && q.recentProgress.forall(_.stateOperators.isEmpty),
      "search serve must run with zero state-store operators")
  }

  test("the distinct cut: no candidate appears twice in a query's top-k, no self-hits") {
    val rows = SparkEntry.queries("stream_search_lsh")(spark, sf).collect()
    assert(rows.nonEmpty)
    val perQ = rows.groupBy(_.getLong(0))
    for ((q, rs) <- perQ) {
      val cids = rs.map(_.getLong(2)).toSeq
      assert(cids.distinct == cids, s"q=$q served a duplicate candidate: $cids")
      assert(!cids.contains(q), s"q=$q served itself")
      assert(rs.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq,
        s"q=$q ranks not contiguous")
    }
  }

  test("the serving-rate harness drives micro-batches through the stored band table") {
    val lats = Streaming.serveLshRate(spark, sf, nBatches = 2, batchSize = 8)
    assert(lats.size == 2 && lats.forall(_ > 0.0), s"lats=$lats")
  }

  test("serve semantics: exact rescore, design-point recall, no wide-plan shapes") {
    import org.apache.spark.sql.expressions.Window
    val served = SparkEntry.queries("stream_search_lsh")(spark, sf)
    // plan shape: band-key hash joins only — a serving chain must never
    // degrade to a cartesian/BNL under optimizer drift
    val plan = served.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"wide join in serve plan:\n$plan")
    val rows = served.collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val exact = e.crossJoin(
        e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        (lit(1000000L) - round(graft.functions.cosine_similarity(
          col("embedding"), col("qv")) * 1000000.0).cast("long")).as("nd"))
    val exactMap = exact.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // (a) every served pair carries the EXACT brute-rescored distance —
    // the bucketed candidate path must never corrupt a score
    for ((q, c, nd) <- rows)
      assert(exactMap((q, c)) == nd, s"served ($q,$c) nd=$nd != exact ${exactMap((q, c))}")
    // (b) the DESIGN-POINT guarantee, serve-level: every truly-high-sim
    // pair (sim >= 0.8, the tuned 0.9@0.8 S-curve regime) must be
    // served. On the isotropic test corpus this set is usually empty —
    // true top-10 neighbors sit near cosine 0.4, far below the collision
    // regime, which is WHY exact-top-10 recall reads only 2-4% here
    // (measured 40000/20000 ppm at sf0.001/0.01): the serve answers
    // "near-duplicates of the query", not "best of isotropic noise".
    // The assertion is armed for any corpus with real near-dups, and
    // LshRecallSpec pins the S-curve that backs it at the band level.
    val mustServe = exactMap.filter(_._2 <= 200000L).keySet
    val servedSet = rows.map(t => (t._1, t._2)).toSet
    assert(mustServe.forall(servedSet.contains),
      s"high-sim pairs missed by the serve: ${mustServe -- servedSet}")
    info(s"exact pairs=${exactMap.size}, served=${rows.length}, " +
      s"high-sim(>=0.8) pairs=${mustServe.size} all served")
  }

  test("top_k_min_pairs_distinct drops exact duplicates; the plain cut keeps them") {
    import spark.implicits._
    // duplicates of the BEST pair must not evict distinct worse pairs
    val df = Seq((1L, 10L), (1L, 10L), (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("d", "id")
    val dis = df.agg(graft.functions.top_k_min_pairs_distinct(
        col("d"), col("id"), 3).as("top"))
      .select(explode(col("top")).as("h")).select(col("h.c_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(dis == Seq(10L, 20L, 30L), s"distinct cut: $dis")
    val plain = df.agg(graft.functions.top_k_min_pairs(
        col("d"), col("id"), 3).as("top"))
      .select(explode(col("top")).as("h")).select(col("h.c_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(plain == Seq(10L, 10L, 10L), s"plain cut: $plain")
  }
}
