package graft

import graft.streaming.Streaming
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Streaming serve from the STORED index (`stream_search_stored`): the
  * serving cluster never trains — centroids and assignment come from
  * the reloaded `vs_ivf_store` catalog tables in a COLD session, the
  * assignment side is a bucketed FileScan, and the output is
  * bit-identical to both the stream leg and the in-memory-trained key.
  */
class StreamStoredSpec extends SparkSpec {

  private def key(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))

  test("cold session: stored-index batch twin ≡ in-memory-trained key, assignment is a FileScan") {
    // Warm session writes the store once (the store step of the
    // lifecycle — a deployment's nightly build job).
    SparkEntry.queries("vs_ivf_store")(spark, sf).collect()
    val warm = SparkEntry.queries("stream_search_ivf")(spark, sf).collect()
    // COLD session (fresh memo state, shared catalog — exactly the
    // serving-cluster shape): the stored twin must reproduce the
    // in-memory key's rows without training anything.
    val cold = spark.newSession()
    val served = SparkEntry.queries("stream_search_stored")(cold, sf).collect()
    assert(served.nonEmpty && served.map(key).toSeq == warm.map(key).toSeq,
      "stored-path serve diverged from the in-memory-trained key")
    // provenance: the assignment side reads the external bucketed store
    val plan = cold.table(
      graft.ops.VectorSearch.storedTable("graft_ivf_assign", sf))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("FileScan parquet"), s"not a FileScan:\n$plan")
  }

  test("cold session: the STREAM leg over the stored index ≡ its batch twin") {
    SparkEntry.queries("vs_ivf_store")(spark, sf).collect()
    val cold = spark.newSession()
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = Streaming.vsSearchStoredStream(cold, sf,
      df => got.synchronized { got ++= Streaming.ranked(df).collect().map(key) })
    q.awaitTermination(120000)
    val streamed = got.toSet
    val batch = SparkEntry.queries("stream_search_stored")(cold, sf)
      .collect().map(key).toSet
    assert(streamed.nonEmpty && streamed == batch,
      "stored-index streaming serve diverged from its batch twin")
    assert(q.recentProgress.nonEmpty && q.recentProgress.forall(_.stateOperators.isEmpty),
      "search serve must run with zero state-store operators")
  }
}
