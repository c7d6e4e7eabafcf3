package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Library-surface specs: extensions registration, VectorStore facade
  * (reference CLI parity), and plan-shape assertions that lock in the
  * scale design (pushdown, broadcast, top-k pushdown). */
class ApiSpec extends SparkSpec {

  test("GraftExtensions registers kernels as SQL functions") {
    // spark.sql.extensions is a static conf (first session of the JVM
    // only), so apply the same injections to a new session of the test
    // context — its registry holds none of the kernels yet, so only the
    // extension path can make the queries below resolve.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("cosine_similarity"))
    org.apache.spark.sql.graftbridge.Bridge.applyFunctionExtensions(fresh, ext)
    val r = fresh.sql(
      "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) c, " +
      "poly_hash('abc') h").head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) == (("a".codePointAt(0) * 31L + 'b') % 1000000007L * 31L + 'c') % 1000000007L)
    // aggregates too — incl. the r14 deduping KMV heap (duplicates in
    // the SQL stream must not occupy extra slots: 3rd-smallest distinct
    // of {0,0,1,1,2,2,5} is 2)
    val a = fresh.sql(
      "SELECT kth_min(v, 3) k, kmv_kth_min(v, 3) kd " +
      "FROM VALUES (0L),(0L),(1L),(1L),(2L),(2L),(5L) AS t(v)").head()
    assert(a.getLong(0) == 1L) // duplicate-sensitive heap: {0,0,1}
    assert(a.getLong(1) == 2L) // deduping heap: {0,1,2}
  }

  test("VectorStore mirrors the reference CLI: count + threshold top-k search") {
    val store = VectorStore.fromParquet(spark, sf)
    assert(store.count() > 0)
    val q = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val hits = store.search(q, k = 10, threshold = 0.6).collect()
    assert(hits.nonEmpty && hits.length <= 10)
    assert(hits.head.getAs[Long]("vec_id") == 0L) // self-match at distance 0
    val dists = hits.map(_.getAs[Double]("dist")).toSeq
    assert(dists == dists.sorted && dists.forall(_ < 0.6))
  }

  test("VectorStore.ingestText embeds documents into unit-norm vectors") {
    val store = VectorStore.ingestText(
      Tables.documents(spark, sf).limit(20), "doc_id", "text")
    val rows = store.df.collect()
    assert(rows.length == 20)
    val v = rows.head.getAs[scala.collection.Seq[Double]]("embedding")
    assert(v.length == VectorStore.Dim)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
  }

  test("VectorStore.searchText: ingest then text-search finds the source doc first") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 50)
    val store = VectorStore.ingestText(docs, "doc_id", "text")
    val probe = docs.filter(col("doc_id") === 3).head().getAs[String]("text")
    val hits = store.searchText(probe, k = 5, threshold = 0.6).collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[Long]("vec_id") == 3L)
    assert(hits.head.getAs[Double]("dist") == 0.0)
  }

  test("VectorStore.appendText: Create onto a live store, search sees old+new") {
    // The reference's Create-then-Search loop (main.rs:72-96): INSERT into
    // the live table, then search over the grown corpus.
    val docs = Tables.documents(spark, sf)
    val store = VectorStore.ingestText(docs.filter(col("doc_id") < 50), "doc_id", "text")
    val grown = store.appendText(docs.filter(col("doc_id") >= 50 && col("doc_id") < 60),
      "doc_id", "text")
    assert(store.count() == 50)
    assert(grown.count() == 60)
    // A new row is found by text search over the grown store...
    val newText = docs.filter(col("doc_id") === 55).head().getAs[String]("text")
    val hitsNew = grown.searchText(newText, k = 5, threshold = 0.6).collect()
    assert(hitsNew.head.getAs[Long]("vec_id") == 55L)
    assert(hitsNew.head.getAs[Double]("dist") == 0.0)
    // ...and the pre-existing rows are still searchable.
    val oldText = docs.filter(col("doc_id") === 3).head().getAs[String]("text")
    val hitsOld = grown.searchText(oldText, k = 5, threshold = 0.6).collect()
    assert(hitsOld.head.getAs[Long]("vec_id") == 3L)
  }

  test("embedText scalar path is bit-identical to the HashCountVec aggregate path") {
    // The facade embedder (VectorStore.embedText, per-row fold) and the
    // distributed embedder (explode → hash_count_vec aggregate, used by
    // vs_ingest / vs_hybrid_search) must produce the SAME vector bit for
    // bit: integer counts are order-independent under partial aggregation
    // and vector_normalize runs the identical IEEE op sequence on both.
    import graft.functions._
    import spark.implicits._
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(Seq(
        (100001L, "The THE the tHe"),          // case folding collapses
        (100002L, "a b c a b a 7 77 777"),     // repeated + numeric tokens
        (100003L, "!!! --- ???"),              // no embeddable tokens
        (100004L, "héllo wörld café naïve"),   // non-ASCII split points
        (100005L, "x")                         // single short token
      ).toDF("doc_id", "text"))
    val viaScalar = VectorStore.ingestText(corpus, "doc_id", "text").df
      .select(col("vec_id").as("doc_id"), col("embedding").as("ea"))
    val viaAgg = corpus
      .select(col("doc_id"), explode(graft.util.TextUtil.toksCol).as("tok"))
      .select(col("doc_id"), poly_hash(col("tok")).as("h"))
      .groupBy("doc_id").agg(hash_count_vec(col("h")).as("counts"))
      .select(col("doc_id"), vector_normalize(col("counts")).as("eb"))
    val joined = viaScalar.join(viaAgg, Seq("doc_id"), "left").collect()
    assert(joined.length == corpus.count())
    joined.foreach { r =>
      val a = r.getAs[scala.collection.Seq[Double]]("ea")
      val b = r.getAs[scala.collection.Seq[Double]]("eb")
      // token-less docs: scalar path yields null embedding, aggregate path
      // has no exploded rows at all (left join → null) — both "no vector".
      assert((a == null) == (b == null), s"doc ${r.getLong(0)}: $a vs $b")
      if (a != null) assert(a == b, s"doc ${r.getLong(0)} differs")
    }
  }

  test("plan shape: q1 pushes the shipdate filter into the parquet scan") {
    val plan = ops.Relational.q1Agg(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("plan shape: q5 broadcasts the dimension tables") {
    val plan = ops.Relational.q5Multijoin(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("plan shape: knn join broadcasts the query side and pushes down top-k") {
    val plan = ops.VectorSearch.vsKnnJoin(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("WindowGroupLimit"))
  }

  test("plan shape: lsh pair search joins on band key, not cross join") {
    val plan = ops.VectorSearch.vsLshSearch(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"))
  }

  test("plan shape: dedup_embedding candidate generation has no O(n^2) join") {
    val plan = ops.Dedup.dedupEmbedding(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("lsh band values are wide integers (keyspace scales with content)") {
    import org.apache.spark.sql.functions._
    val bands = ops.VectorSearch.lshBands(
      spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding"),
      "vec_id", "embedding")
    val row = bands.agg(max("band_val"), countDistinct("band_val")).head()
    // 16-bit band values: the occupied keyspace must exceed any 4-bit
    // band's fixed 16 buckets, and values must exceed 8 bits.
    assert(row.getLong(0) > 255L)
    assert(row.getLong(1) > 16L)
  }
}
