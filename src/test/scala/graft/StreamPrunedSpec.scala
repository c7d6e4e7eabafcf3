package graft

import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Per-micro-batch FILE pruning for the stored-index serves (r17
  * verdict #1): the pruned serve collects each batch's bounded probe
  * set and pushes it back as a literal IN filter, so the static side
  * reads ONLY the probed buckets' files (`SelectedBucketsCount` in the
  * FileScan) instead of re-scanning the full artifact per batch —
  * while staying bit-identical to the unpruned chains. */
class StreamPrunedSpec extends SparkSpec {

  private def key(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))

  private def exploded(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select(col("q_id"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("q_id"), (col("pos") + 1L).as("rank"),
        col("hit.c_id"), col("hit.d2"))
      .collect().map(key).sorted.toIndexedSeq

  private def queriesIvf = Tables.embeddings(spark, sf)
    .filter(col("vec_id") % 100 === 0)
    .select(col("vec_id").as("q_id"), col("embedding"))

  private def queriesLsh = Tables.embeddings(spark, sf)
    .filter(col("vec_id") % 100 === 0)
    .select(col("vec_id").as("q_id"), col("embedding").as("qv"))

  test("pruned IVF serve ≡ the stored batch twin, bit-identical") {
    val twin = SparkEntry.queries("stream_search_stored")(spark, sf)
      .collect().map(key).sorted.toIndexedSeq
    val ma = graft.ops.VectorSearch.gridMaxAbs(spark, sf)
    val model = graft.ops.VectorSearch.storedIvfModel(spark, sf)
    val pruned = exploded(Streaming.ivfPrunedChain(spark, sf, ma, model)(queriesIvf))
    assert(pruned.nonEmpty && pruned == twin,
      "pruned IVF serve diverged from the stored batch twin")
  }

  test("pruned IVF serve reads only the probed cells' bucket files") {
    val ma = graft.ops.VectorSearch.gridMaxAbs(spark, sf)
    val model = graft.ops.VectorSearch.storedIvfModel(spark, sf)
    // one query probes nprobe=3 of 8 cells — the scan must prune to
    // at most the probed cells' buckets, never the full artifact
    val out = Streaming.ivfPrunedChain(spark, sf, ma, model)(queriesIvf.limit(1))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString()
    val sel = raw"SelectedBucketsCount: (\d+) out of (\d+)".r
    val hits = sel.findAllMatchIn(plan).map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    assert(hits.nonEmpty, s"no bucket pruning in the pruned IVF plan:\n$plan")
    assert(hits.forall { case (x, n) => x <= Streaming.SearchNprobe && n > 0 },
      s"scan read more buckets than the probe set: $hits\n$plan")
    assert(plan.contains("PushedFilters"), s"no pushed filters:\n$plan")
  }

  test("pruned LSH serve ≡ the stored-band batch twin, bit-identical") {
    val twin = SparkEntry.queries("stream_search_lsh")(spark, sf)
      .collect().map(key).sorted.toIndexedSeq
    val (flat, r, b) = Streaming.lshServeGeometry(spark, sf)
    val pruned = exploded(Streaming.lshPrunedChain(spark, sf, flat, r, b)(queriesLsh))
    assert(pruned.nonEmpty && pruned == twin,
      "pruned LSH serve diverged from the stored-band batch twin")
  }

  test("pruned LSH serve: band probe AND vec rescore scans are bucket-pruned") {
    val (flat, r, b) = Streaming.lshServeGeometry(spark, sf)
    // one query probes b band values of LshStoreBuckets band buckets,
    // and rescores a banded candidate set of vec_id buckets
    val out = Streaming.lshPrunedChain(spark, sf, flat, r, b)(queriesLsh.limit(1))
    out.collect()
    val sel = raw"SelectedBucketsCount: (\d+) out of (\d+)".r
    val probePlan = Streaming.lastLshProbePlan.get()
    val probeHits = sel.findAllMatchIn(probePlan)
      .map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    assert(probeHits.nonEmpty, s"band probe not bucket-pruned:\n$probePlan")
    assert(probeHits.forall { case (x, n) => x < n },
      s"band probe read every bucket (probe set must prune at |Q|=1): $probeHits")
    val rescorePlan = out.queryExecution.executedPlan.toString()
    val rescoreHits = sel.findAllMatchIn(rescorePlan)
      .map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    assert(rescoreHits.nonEmpty, s"vec rescore not bucket-pruned:\n$rescorePlan")
    assert(rescorePlan.contains("PushedFilters"), s"no pushed filters:\n$rescorePlan")
  }

  test("always-on pruned streams ≡ their batch twins (foreachBatch, AvailableNow)") {
    SparkEntry.queries("vs_ivf_store")(spark, sf).collect()
    SparkEntry.queries("vs_lsh_store")(spark, sf).collect()
    val gotIvf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val qi = Streaming.vsSearchStoredPrunedStream(spark, sf,
      df => gotIvf.synchronized { gotIvf ++= exploded(df) })
    qi.awaitTermination(120000)
    val twinIvf = SparkEntry.queries("stream_search_stored")(spark, sf)
      .collect().map(key).sorted.toIndexedSeq
    assert(gotIvf.nonEmpty && gotIvf.sorted.toIndexedSeq == twinIvf,
      "always-on pruned IVF serve diverged from its batch twin")
    val gotLsh = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val ql = Streaming.vsSearchLshPrunedStream(spark, sf,
      df => gotLsh.synchronized { gotLsh ++= exploded(df) })
    ql.awaitTermination(120000)
    val twinLsh = SparkEntry.queries("stream_search_lsh")(spark, sf)
      .collect().map(key).sorted.toIndexedSeq
    assert(gotLsh.nonEmpty && gotLsh.sorted.toIndexedSeq == twinLsh,
      "always-on pruned LSH serve diverged from its batch twin")
  }

  test("pruned rate harnesses drive micro-batches end-to-end") {
    val li = Streaming.serveIvfRatePruned(spark, sf, nBatches = 2, batchSize = 8)
    assert(li.size == 2 && li.forall(_ > 0.0), s"ivf lats=$li")
    val ll = Streaming.serveLshRatePruned(spark, sf, nBatches = 2, batchSize = 8)
    assert(ll.size == 2 && ll.forall(_ > 0.0), s"lsh lats=$ll")
  }

  test("empty micro-batch: schema-only result, no probe jobs") {
    val ma = graft.ops.VectorSearch.gridMaxAbs(spark, sf)
    val model = graft.ops.VectorSearch.storedIvfModel(spark, sf)
    val e = Streaming.ivfPrunedChain(spark, sf, ma, model)(queriesIvf.limit(0))
    assert(e.columns.toSeq == Seq("q_id", "top") && e.count() == 0)
    val (flat, r, b) = Streaming.lshServeGeometry(spark, sf)
    val el = Streaming.lshPrunedChain(spark, sf, flat, r, b)(queriesLsh.limit(0))
    assert(el.columns.toSeq == Seq("q_id", "top") && el.count() == 0)
  }
}
