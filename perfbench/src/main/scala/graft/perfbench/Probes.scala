package graft.perfbench

import graft.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Layer probes of the traced run. They run after the workload, on their
  * own inputs of one fixed shape, identically for every workload, so a
  * per-layer figure is comparable between any two traced runs. */
object Probes {
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** ns per input row of each kernel, applied to a staged frame of about
    * [[KernelRows]] rows (corpus rows repeated; median of three
    * evaluations after an untimed one; the staged scan is included). */
  def kernels(ctx: Ctx, out: mutable.Map[String, Double]): Unit = {
    val s = ctx.spark
    val emb = graft.Tables.embeddings(s, ctx.dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def copies(df: DataFrame) = s.range(math.max(1L, KernelRows / df.count())).toDF("copy")
    val ma = emb.agg(max(array_max(transform(col("v"), x => abs(x))))).head().getDouble(0)
    val vecs = graft.util.Persist.stage(emb.crossJoin(copies(emb))
      .select(col("vec_id").as("id"), col("v"),
        transform(col("v"), x => round(x * 127.0 / lit(ma), 0).cast("long")).as("qd"))
      .repartition(s.sparkContext.defaultParallelism))
    val q = emb.head().getSeq[Double](1)
    val qq = q.map(x => math.round(x * 127.0 / ma))
    val text = graft.Tables.documents(s, ctx.dir).select(col("doc_id"), col("text"))
    val docs = graft.util.Persist.stage(text.crossJoin(copies(text))
      .select(col("doc_id").as("id"), col("text"),
        element_at(split(col("text"), " "), 1).as("tok"))
      .repartition(s.sparkContext.defaultParallelism))
    val grams = graft.util.Persist.stage(docs.select(col("id"), char_gram_hashes(col("text")).as("g")))
    // One document set, not the repeated one: every document already
    // yields a few hundred gram hashes.
    val flat = graft.util.Persist.stage(text.select(col("doc_id").as("id"),
      explode(char_gram_hashes(col("text"))).as("h")))
    val nV = vecs.count().toDouble
    val nD = docs.count().toDouble
    val nF = flat.count().toDouble
    val cases: Seq[(String, Double, () => DataFrame)] = Seq(
      ("cosine_similarity", nV, () => vecs.select(cosine_similarity(col("v"), typedlit(q)))),
      ("int_sq_l2", nV, () => vecs.select(int_sq_l2(col("qd"), typedlit(qq)))),
      ("top_k_min_pairs", nV, () => vecs.groupBy(col("id") % 64)
        .agg(top_k_min_pairs(int_sq_l2(col("qd"), typedlit(qq)), col("id"), 10))),
      ("vector_normalize", nV, () => vecs.select(vector_normalize(col("v")))),
      ("char_gram_hashes", nD, () => docs.select(char_gram_hashes(col("text")))),
      ("mixed_minhash16", nD, () => grams.select(mixed_minhash16(col("g")))),
      ("poly_hash_cp", nD, () => docs.select(poly_hash_cp(col("text")))),
      ("poly_hash", nD, () => docs.select(poly_hash(col("tok")))),
      ("minhash_sig", nF, () => flat.groupBy("id").agg(minhash_sig(col("h"), 16))))
    cases.foreach { case (k, rows, df) =>
      noop(df()) // codegen and first touch, untimed
      val ts = (1 to 3).map(_ => time(noop(df())))
      out(s"functions.$k.ns_per_row") = Stats.median(ts) * 1e9 / rows
    }
    Seq(vecs, docs, grams, flat).foreach(graft.util.Persist.release)
  }
  val KernelRows = 50000L

  /** The five serving modes over the stored IVF and LSH indexes (median of
    * [[ServeBatches]] micro-batches each), plus the store, load, upsert and
    * delete walls of the LSH family and the stored size of each index. */
  def serving(ctx: Ctx, out: mutable.Map[String, Double]): Unit = {
    val s = ctx.spark
    val dir = ctx.dir
    import graft.streaming.Streaming
    def key(k: String): Double = time(graft.SparkEntry.queries(k)(s, dir).collect())
    out("index.ivf.store_s") = key("vs_ivf_store")
    out("index.ivf.load_s") = key("vs_ivf_load")
    out("index.ivf.stored_load_s") = time(Streaming.storedIvfIndex(s, dir)._2.count())
    out("index.lsh.store_s") = key("vs_lsh_store")
    out("index.lsh.load_s") = key("vs_lsh_load")
    out("index.lsh.upsert_s") = key("vs_lsh_upsert")
    out("index.lsh.delete_s") = key("vs_lsh_delete")
    out("index.lsh.stored_load_s") = time(Streaming.storedLshIndex(s, dir)._4.count())
    val n = graft.Tables.embeddings(s, dir).count().toDouble
    def bytes(t: String): Double = {
      val name = graft.ops.VectorSearch.storedTable(t, dir)
      val loc = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name)).location
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).getContentSummary(p).getLength.toDouble
    }
    out("index.ivf.bytes_per_vector") =
      (bytes("graft_ivf_assign") + bytes("graft_ivf_centroids")) / n
    out("index.lsh.bytes_per_vector") = bytes("graft_lsh_bands") / n
    val modes: Seq[(String, (org.apache.spark.sql.SparkSession, String, Int, Int) => Seq[Double])] = Seq(
      "serve_ivf" -> Streaming.serveIvfRate, "serve_ivf_pruned" -> Streaming.serveIvfRatePruned,
      "serve_lsh" -> Streaming.serveLshRate, "serve_lsh_warm" -> Streaming.serveLshRateWarm,
      "serve_lsh_pruned" -> Streaming.serveLshRatePruned)
    modes.foreach { case (m, f) =>
      out(s"streaming.$m.batch_p50_ms") = Stats.median(f(s, dir, ServeBatches, Serve.BatchSize)) * 1e3
    }
  }
  val ServeBatches = 2

  def pipelineStages(ctx: Ctx, out: mutable.Map[String, Double]): Unit =
    graft.ops.Pipeline.pipelineE2eStageTimes(ctx.spark, ctx.dir).foreach { case (st, sec) =>
      out(s"pipeline.stage.${st}_s") = sec
    }
}
