package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.Bridge

/** Column-level facade over graft's native Catalyst expressions. */
package object functions {
  private def col(e: Expression): Column = Bridge.column(e)
  private def expr(c: Column): Expression = Bridge.expression(c)

  def cosine_similarity(a: Column, b: Column): Column = col(CosineSimilarity(expr(a), expr(b)))
  /** pgvector `<=>` (reference src/main.rs:90): 1 − cosine similarity. */
  def cosine_distance(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.lit(1.0) - cosine_similarity(a, b)
  def l2_distance(a: Column, b: Column): Column = col(L2Distance(expr(a), expr(b)))
  def l1_distance(a: Column, b: Column): Column = col(L1Distance(expr(a), expr(b)))
  def inner_product(a: Column, b: Column): Column = col(InnerProduct(expr(a), expr(b)))
  /** Exact BIGINT Σ(aᵢ−bᵢ)² over integer arrays (int8-grid distance). */
  def int_sq_l2(a: Column, b: Column): Column = col(IntSquaredL2(expr(a), expr(b)))
  /** Exact BIGINT Σaᵢ·bᵢ over integer arrays (int8-grid relevance). */
  def int_dot(a: Column, b: Column): Column = col(IntDot(expr(a), expr(b)))
  def vector_norm(a: Column): Column = col(VectorNorm(expr(a)))
  def vector_normalize(a: Column): Column = col(VectorNormalize(expr(a)))
  def poly_hash(s: Column): Column = col(PolyHash(expr(s)))
  def poly_hash_cp(s: Column): Column = col(PolyHashCp(expr(s)))
  /** Sorted-distinct char-3-gram codepoint hashes in one kernel pass
    * (the fused dedup_ngram_jaccard gram pipeline — see
    * [[CharGramHashes]]). */
  def char_gram_hashes(s: Column): Column = col(CharGramHashes(expr(s)))
  /** 16-slot mixed-minhash signature of a gram-hash array in one kernel
    * pass (see [[MixedMinhash16]]). */
  def mixed_minhash16(g: Column): Column = col(MixedMinhash16(expr(g)))
  def sorted_intersect_count(a: Column, b: Column): Column =
    col(SortedIntersectCount(expr(a), expr(b)))
  /** Aggregate: k-th smallest long with bounded (k-entry) state. */
  def kth_min(c: Column, k: Int): Column =
    col(KthMin(expr(c), k).toAggregateExpression())
  /** Aggregate: k-th smallest DISTINCT long — the duplicate-insensitive
    * streaming KMV heap (no distinct pre-pass needed; see
    * [[KthMinDistinct]]). */
  def kmv_kth_min(c: Column, k: Int): Column =
    col(KthMinDistinct(expr(c), k).toAggregateExpression())
  /** Aggregate: k smallest (d2, id) pairs, bounded k-pair state. */
  def top_k_min_pairs(d: Column, id: Column, k: Int): Column =
    col(TopKMinPairs(expr(d), expr(id), k).toAggregateExpression())
  /** [[top_k_min_pairs]] skipping exact-duplicate (dist, id) tuples —
    * the serving cut when the candidate stream can repeat a pair (e.g.
    * multi-band LSH collisions); state stays ≤ k pairs per group. */
  def top_k_min_pairs_distinct(d: Column, id: Column, k: Int): Column =
    col(TopKMinPairs(expr(d), expr(id), k, distinct = true).toAggregateExpression())
  /** Aggregate: SimHash 4×16-bit chunk signature from token hashes. */
  def simhash_chunks(c: Column): Column =
    col(SimhashChunks(expr(c)).toAggregateExpression())
  /** Aggregate: K permuted MinHash minima from shingle hashes. */
  /** All LSH band values in one fused kernel pass (see [[LshBandVals]]). */
  def lsh_band_vals(v: Column, planesFlat: Array[Double], dims: Int,
      planesPerBand: Int, bands: Int): Column =
    col(LshBandVals(expr(v), planesFlat, dims, planesPerBand, bands))
  /** Literal long-set membership as a direct Catalyst `InSet` — what
    * `isin`/`isInCollection` optimize INTO, minus the planning bill: a
    * literal In with thousands of values is thousands of expression
    * nodes walked by every analyzer/optimizer rule (measured 3-8 s per
    * pruned-serve micro-batch at the sf0.1 LSH geometry's ~5.5k-value
    * probe set, vs ~0.1 s as InSet, which is ONE node holding a hash
    * set). Still bucket-prunable (FileSourceStrategy's genBucketSet
    * matches InSet) and source-pushable (translateFilter → sources.In)
    * exactly like the literal spelling.
    *
    * Long-only BY CONSTRUCTION (r18 advice): `InSet` bypasses analyzer
    * type coercion, so against a non-bigint column the boxed-Long set
    * would evaluate to false for EVERY row — a silent empty result
    * instead of an analysis error. The helper therefore demands a
    * RESOLVED LongType child (pass `df("name")`, not `col("name")`)
    * and fails fast on anything else. */
  def in_long_set(c: Column, values: Iterable[Long]): Column = {
    val e = expr(c)
    require(e.resolved,
      s"in_long_set needs a RESOLVED column (pass df(\"name\"), not col(\"name\")) " +
      s"so its Long-only contract can be checked; got unresolved: $e")
    require(e.dataType == org.apache.spark.sql.types.LongType,
      s"in_long_set is Long-only (InSet skips type coercion - a non-bigint " +
      s"column would silently match nothing); got ${e.dataType.sql} for $e")
    col(org.apache.spark.sql.catalyst.expressions.InSet(e,
      values.iterator.map(v => java.lang.Long.valueOf(v): Any).toSet))
  }
  def minhash_sig(c: Column, k: Int): Column =
    col(MinhashSig(expr(c), k).toAggregateExpression())
  /** Aggregate: 64-slot hashing-trick signed count vector. */
  def hash_count_vec(c: Column): Column =
    col(HashCountVec(expr(c)).toAggregateExpression())
  /** Aggregate: Misra-Gries heavy-hitter candidates (≤ k keys; every key
    * with frequency > n/(k+1) guaranteed present). */
  def misra_gries(c: Column, k: Int): Column =
    col(MisraGries(expr(c), k).toAggregateExpression())

  /** Literal-int second argument of an aggregate builder. */
  private def litK(name: String,
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Int = {
    require(es.length == 2 && es(1).foldable, s"$name(col, k) needs a literal k")
    es(1).eval().asInstanceOf[Number].intValue()
  }

  /** THE kernel registry — one (name, builder) list consumed by BOTH
    * SQL registration paths ([[register]] for a live session,
    * [[graft.GraftExtensions]] for `spark.sql.extensions` injection),
    * so the two surfaces cannot drift: r14 found `kmv_kth_min` on one
    * path only, and `int_sq_l2`/`int_dot`/`misra_gries` had been
    * session-registry-only since they landed. (The variadic
    * `lsh_band_vals` facade stays Column-API-only — its plane array is
    * a Scala argument, not an expression.) */
  val kernelBuilders: Seq[(String,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    "cosine_similarity" -> (es => CosineSimilarity(es(0), es(1))),
    "inner_product" -> (es => InnerProduct(es(0), es(1))),
    "l2_distance" -> (es => L2Distance(es(0), es(1))),
    "int_sq_l2" -> (es => IntSquaredL2(es(0), es(1))),
    "int_dot" -> (es => IntDot(es(0), es(1))),
    "l1_distance" -> (es => L1Distance(es(0), es(1))),
    "vector_norm" -> (es => VectorNorm(es.head)),
    "vector_normalize" -> (es => VectorNormalize(es.head)),
    "poly_hash" -> (es => PolyHash(es.head)),
    "poly_hash_cp" -> (es => PolyHashCp(es.head)),
    "char_gram_hashes" -> (es => CharGramHashes(es.head)),
    "mixed_minhash16" -> (es => MixedMinhash16(es.head)),
    "sorted_intersect_count" -> (es => SortedIntersectCount(es(0), es(1))),
    "kth_min" -> (es => KthMin(es(0), litK("kth_min", es))),
    "kmv_kth_min" -> (es => KthMinDistinct(es(0), litK("kmv_kth_min", es))),
    "simhash_chunks" -> (es => SimhashChunks(es.head)),
    "hash_count_vec" -> (es => HashCountVec(es.head)),
    "minhash_sig" -> (es => MinhashSig(es(0), litK("minhash_sig", es))),
    "misra_gries" -> (es => MisraGries(es(0), litK("misra_gries", es))))

  /** Register all graft kernels as session SQL functions (usable in
    * `expr(...)`, SQL text, and higher-order-function lambdas).
    * Idempotent: names the session already holds are skipped. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.graftbridge.Bridge.registerFunction
    kernelBuilders.foreach { case (name, b) => registerFunction(spark, name, b) }
  }
}
