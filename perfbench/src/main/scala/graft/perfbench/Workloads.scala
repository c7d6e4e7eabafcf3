package graft.perfbench

import graft.VectorStore
import org.apache.spark.sql.functions.col

/** A workload is a cold pass (the first time a fresh session does the
  * work) followed by warm units repeated until the run's time is up. Each
  * warm unit adds its latencies to `ctx.samples` and returns how many
  * items it processed (queries, documents or key evaluations). */
trait Workload {
  def name: String
  /** What one item of `throughput` is. */
  def itemUnit: String
  /** Work a deployment does before it takes traffic; timed into setup_s. */
  def prepare(ctx: Ctx): Unit = ()
  /** What the harness itself needs before the cold pass (reference data
    * for its checks); runs once, after the timed set-ups. */
  def load(ctx: Ctx): Unit = ()
  def cold(ctx: Ctx): Unit
  def warm(ctx: Ctx): Long
  /** Correctness checks that need the whole run (after the warm loop). */
  def finish(ctx: Ctx): Unit = ()
}

object Workloads {
  val all: Seq[Workload] = Seq(Serve, Batch)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  /** Evaluate registered keys (`SparkEntry.queries`) one call each. The
    * first evaluation of a key keeps its output for the DuckDB oracle
    * (unless listed in `noOracle`); every later one must hash equal. */
  final class KeyPass(layerOf: String => String, keys: Seq[String],
      noOracle: Set[String] = Set.empty) {
    private val firstHash = scala.collection.mutable.Map.empty[String, String]
    def run(ctx: Ctx): Unit = keys.foreach { k =>
      ctx.call(layerOf(k), k) {
        val df = graft.SparkEntry.queries(k)(ctx.spark, ctx.dir)
        (df, df.collect())
      }.foreach { case (df, rows) =>
        if (ctx.phase == "warm") ctx.samples += ctx.calls.last.wallMs
        val h = Stats.rowsHash(rows)
        firstHash.get(k) match {
          case None =>
            firstHash(k) = h
            if (!noOracle(k) && graft.SparkEntry.oracleSql.contains(k))
              ctx.keepForOracle(k, df, rows)
          case Some(h0) =>
            ctx.check(s"$k.repeat_hash", h0 == h, s"first $h0, now $h")
        }
      }
    }
  }
}

/** The reference CLI's life cycle on the index layer, then a closed
  * serving loop. Cold: ingest the documents (`VectorStore.ingestText`),
  * build and store the IVF index, load it, serve a first micro-batch and a
  * reference `Search`, upsert, delete, vacuum, count. Warm: one client
  * alternating stored-IVF micro-batches (`Streaming.serveIvfRate`, 64
  * queries each) with single reference `Search` calls (k=10, threshold
  * 0.6). Unit latency: one micro-batch. Items: answered queries. */
object Serve extends Workload {
  val name = "serve"
  val itemUnit = "queries"
  val BatchSize = 64
  val BatchesPerCall = 12
  val SearchesPerUnit = 2
  private var store: VectorStore = _
  private var queries: Array[(Long, Array[Double])] = Array.empty
  private var corpus: Array[(Long, Array[Double])] = Array.empty
  private var qi = 0
  private var nDocs = 0L
  private val searchMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  override def prepare(ctx: Ctx): Unit =
    store = VectorStore.fromParquet(ctx.spark, ctx.dir)

  override def load(ctx: Ctx): Unit = {
    val s = ctx.spark
    queries = s.read.parquet(s"${ctx.dir}/queries.parquet").orderBy("q_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    corpus = s.read.parquet(s"${ctx.dir}/embeddings.parquet").select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    nDocs = graft.Tables.documents(s, ctx.dir).count()
  }

  /** One reference `Search`, checked against an exact driver-side scan:
    * the returned distances must be the k smallest below the threshold. */
  private def search(ctx: Ctx): Unit = {
    val (qid, q) = queries(qi % queries.length)
    qi += 1
    ctx.call("vectorstore", "search")(store.search(q.map(_.toFloat).toSeq).collect())
      .foreach { rows =>
        searchMs += ctx.calls.last.wallMs
        val got = rows.map(_.getAs[Double]("dist"))
        val want = Exact.topK(corpus, q, 10, 0.6).map(_._2)
        val ok = got.length == want.length &&
          got.zip(want).forall { case (a, b) => math.abs(a - b) <= 2e-6 }
        ctx.check(s"search.q$qid", ok,
          s"got ${got.mkString(",")} want ${want.mkString(",")}")
      }
  }

  def cold(ctx: Ctx): Unit = {
    val s = ctx.spark
    ctx.call("vectorstore", "ingest")(VectorStore.ingestText(
      graft.Tables.documents(s, ctx.dir), "doc_id", "text").count())
      .foreach(n => ctx.check("ingest.count", n == nDocs, s"ingested $n of $nDocs"))
    new Workloads.KeyPass(_ => "index", Seq("vs_ivf_store", "vs_ivf_load")).run(ctx)
    ctx.call("streaming", "serve_ivf")(graft.streaming.Streaming
      .serveIvfRate(s, ctx.dir, 1, BatchSize))
    search(ctx)
    new Workloads.KeyPass(_ => "index",
      Seq("vs_ivf_upsert", "vs_ivf_delete", "vs_index_vacuum")).run(ctx)
    ctx.call("vectorstore", "count")(store.count()).foreach(n =>
      ctx.check("count", n == corpus.length, s"count $n, corpus ${corpus.length}"))
  }

  def warm(ctx: Ctx): Long = {
    val lat = ctx.call("streaming", "serve_ivf")(graft.streaming.Streaming
      .serveIvfRate(ctx.spark, ctx.dir, BatchesPerCall, BatchSize))
    lat.foreach(ls => ctx.samples ++= ls.map(_ * 1e3))
    (1 to SearchesPerUnit).foreach(_ => search(ctx))
    lat.map(_.size.toLong * BatchSize).getOrElse(0L) + SearchesPerUnit
  }

  /** Served answers: the stored-IVF serve's batch twin
    * (`stream_search_stored`) returns k answers for every query, equals
    * the in-memory trained serve (`stream_search_ivf`) answer for answer,
    * and goes to the DuckDB oracle; its recall@10 against the exact
    * `VectorStore.searchAll` top-10 is recorded. */
  override def finish(ctx: Ctx): Unit = {
    val s = ctx.spark
    val storedDf = graft.SparkEntry.queries("stream_search_stored")(s, ctx.dir)
    val stored = storedDf.collect()
    ctx.keepForOracle("stream_search_stored", storedDf, stored)
    val trained = graft.SparkEntry.queries("stream_search_ivf")(s, ctx.dir).collect()
    ctx.check("serve.stored_equals_trained", Stats.rowsHash(stored) == Stats.rowsHash(trained),
      s"${stored.length} stored rows, ${trained.length} trained rows")
    val served = stored.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
    val qs = graft.Tables.embeddings(s, ctx.dir).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val exact = store.searchAll(qs, "q_id", "embedding", 10).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
    val short = served.count(_._2.size != 10)
    ctx.check("serve.k_answers", served.nonEmpty && short == 0 &&
      served.keySet == exact.keySet, s"${served.size} queries, $short short")
    val hits = exact.map { case (q, e) => (served.getOrElse(q, Set.empty) & e).size }.sum
    ctx.detail("recall_at_10") = hits.toDouble / math.max(1, exact.values.map(_.size).sum)
    ctx.detail("recall_queries") = exact.size
    if (searchMs.nonEmpty) {
      ctx.detail("search_p50_ms") = Stats.median(searchMs.toSeq)
      ctx.detail("search_n") = searchMs.size
    }
  }
}

/** Work over staged frames that never touches an index. Cold pass: the
  * three curation operators, the composed training-data pipeline, one key
  * per analytics module (relational, events, graph, lake, multimodal) and
  * a stateful streaming key. Warm unit: the curation keys and the pipeline
  * again; the analytics keys are the cold pass's guard for session-level
  * changes and run once. Unit latency: one key evaluation. Items:
  * documents through one warm unit. Warm outputs must hash equal to cold
  * ones. The cold outputs of the cheap-to-replay keys go to the DuckDB
  * oracle; the replays of the two dedup keys and of pipeline_e2e take
  * longer than a warm unit, so those keys are checked by the hash only. */
object Batch extends Workload {
  val name = "batch"
  val itemUnit = "documents"
  val curateKeys = Seq("text_fingerprint", "dedup_ngram_jaccard", "dedup_containment",
    "pipeline_e2e")
  val analyticsKeys = Seq("q5_multijoin", "ev_sessionize", "graph_pagerank",
    "lake_merge_upsert", "mm_image_decode", "stream_window_agg")
  val noOracle = Set("dedup_ngram_jaccard", "dedup_containment", "pipeline_e2e")
  def layer(k: String): String = k.takeWhile(_ != '_') match {
    case "pipeline" => "pipeline"
    case "text" | "dedup" => "curation"
    case "stream" => "streaming"
    case _ => "analytics"
  }
  private var curate: Workloads.KeyPass = _
  private var analytics: Workloads.KeyPass = _
  private var nDocs = 0L

  override def load(ctx: Ctx): Unit = {
    curate = new Workloads.KeyPass(layer, curateKeys, noOracle)
    analytics = new Workloads.KeyPass(layer, analyticsKeys)
    nDocs = graft.Tables.documents(ctx.spark, ctx.dir).count()
  }
  def cold(ctx: Ctx): Unit = { curate.run(ctx); analytics.run(ctx) }
  def warm(ctx: Ctx): Long = { curate.run(ctx); nDocs }
}

/** Exact cosine search on the driver, the reference for `Search`. */
object Exact {
  /** (id, r6-rounded cosine distance) of the k nearest below threshold,
    * nearest first, ties by id. */
  def topK(corpus: Array[(Long, Array[Double])], q: Array[Double], k: Int,
      threshold: Double): Array[(Long, Double)] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    corpus.iterator.map { case (id, v) =>
      var dot = 0.0; var vn = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * q(i); vn += v(i) * v(i); i += 1 }
      val d = BigDecimal(1.0 - dot / (math.sqrt(vn) * qn))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, d)
    }.filter(_._2 < threshold).toArray.sortBy(p => (p._2, p._1)).take(k)
  }
}
