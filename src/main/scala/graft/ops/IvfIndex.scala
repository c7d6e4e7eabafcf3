package graft.ops

import graft.functions._
import graft.util.Det._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** IVF coarse quantizer trained with Lloyd (k-means) iterations as
  * DataFrame jobs — the index-build half of a vector search system
  * (reference stores vectors in pgvector and searches exactly;
  * at 100 TB the Spark-native answer is: build the IVF codebook in
  * batch, assign cells, and probe only nprobe cells at query time —
  * see [[VectorSearch.vsIvfSearch]] for the oracle-checked probe).
  *
  * Scale posture per iteration: one map-only assignment pass (argmin over
  * k broadcast-literal centroids, stays in codegen) + one aggregation
  * keyed by (cell, dim) with map-side combine. Centroids (k×dim doubles)
  * live on the driver between iterations — the classic Spark k-means
  * shape. Deterministic AND corpus-order-free (r12): init = the k
  * vectors with the smallest [[graft.util.Det.hashCoin]] rank of their
  * id — at 100 TB "the first k ids" is whatever the oldest ingest batch
  * wrote, possibly one skewed source; the hash-coin rank picks a
  * layout-independent pseudo-random seed set with the same determinism
  * and a TakeOrderedAndProject plan (distributed partial top-k, no
  * global sort). Ties broken by centroid id, fixed iteration count.
  */
object IvfIndex {
  final case class Model(centroids: IndexedSeq[(Int, IndexedSeq[Double])]) {
    def k: Int = centroids.length
  }

  private def toDouble(v: Any): IndexedSeq[Double] = v match {
    case s: scala.collection.Seq[_] => s.map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toIndexedSeq
  }

  /** Nearest-centroid cell id as a codegen-friendly expression. */
  def cellOf(v: Column, model: Model): Column =
    least(model.centroids.map { case (cid, cv) =>
      struct(r6(lit(1.0) - cosine_similarity(v, typedlit(cv))).as("dist"),
        lit(cid).as("cid"))
    }: _*).getField("cid")

  /** Train with deterministic order-free init (hash-coin rank, see
    * object scaladoc) + `iters` Lloyd rounds (mean of assigned vectors,
    * cosine geometry on raw vectors). */
  def fit(vectors: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int): Model = {
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    var model = Model(seedRows(base, k).zipWithIndex
      .map { case (r, i) => (i, toDouble(r.get(1))) }.toIndexedSeq)
    for (_ <- 0 until iters) {
      val assigned = base.withColumn("cell", cellOf(col("v"), model))
      val sums = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getAs[Int]("cell"))
      model = Model(model.centroids.map { case (cid, old) =>
        byCell.get(cid) match {
          case Some(rows) =>
            val dim = old.length
            val mean = Array.fill(dim)(0.0)
            rows.foreach { r =>
              mean(r.getAs[Int]("dim")) = r.getAs[Double]("s") / r.getAs[Long]("n")
            }
            (cid, mean.toIndexedSeq)
          case None => (cid, old) // empty cell keeps its centroid
        }
      })
    }
    model
  }

  /** Integer k-means model: centroids live on the int8 quantization grid
    * so every training step is exact BIGINT arithmetic — reproducible
    * bit-for-bit by a SQL engine (the [[VectorSearch.vsIvfTrained]]
    * oracle unrolls the same iterations as CTEs). */
  final case class IntModel(centroids: IndexedSeq[(Int, IndexedSeq[Long])]) {
    def k: Int = centroids.length
  }

  /** Squared L2 distance between an int8-grid vector column and an integer
    * centroid literal — exact in LONG (|diff| <= 254 per dim, so the sum
    * is far below overflow at any realistic dimensionality). On unit-norm
    * embeddings L2 ordering equals cosine ordering, so the integer grid
    * preserves the assignment geometry. */
  def intD2(q: Column, c: IndexedSeq[Long]): Column =
    graft.functions.int_sq_l2(q, typedlit(c))

  /** The ONE int8 grid: every coordinate of `v` scaled by 127/`maxAbs`
    * and rounded half away from zero — the full corpus, a base slice,
    * IVF-PQ residuals and a stream's queries (against a driver-scalar
    * `lit(maxAbs)`) all quantize through here. */
  def quantize(v: Column, maxAbs: Column): Column =
    transform(v, x => round(x * lit(127.0) / maxAbs, 0).cast("long"))
  /** SQL twin of [[quantize]] (DuckDB `round` also rounds half away
    * from zero). */
  def quantizeSql(v: String, maxAbs: String): String =
    s"list_transform($v, x -> CAST(round((x * 127.0) / $maxAbs) AS BIGINT))"
  /** Driver-side twin of [[quantize]] for one value (`math.round`). */
  def quantizeValue(x: Double, maxAbs: Double): Long = math.round(x * 127.0 / maxAbs)
  /** The grid scale of a vector column: max |coordinate| (an aggregate). */
  def maxAbs(v: Column): Column = max(array_max(transform(v, x => abs(x))))

  /** Cell count and Lloyd rounds of every trained IVF in graft. */
  final val Cells = 8
  final val Iters = 2

  /** Nearest centroid of the int8 vector `q` as a (d2, cid) struct —
    * integer L2, ties to the smaller cid. */
  def intCellD2(q: Column, model: IntModel): Column =
    least(model.centroids.map { case (cid, cv) =>
      struct(intD2(q, cv).as("d2"), lit(cid).as("cid"))
    }: _*)

  /** Nearest-centroid cell id under integer L2, ties to the smaller cid. */
  def intCellOf(q: Column, model: IntModel): Column =
    intCellD2(q, model).getField("cid")

  /** The `nprobe` cells nearest to `q` as an ascending array of (d2, cid)
    * structs (ties to the smaller cid). */
  def probeCells(q: Column, model: IntModel, nprobe: Int): Column =
    slice(array_sort(array(model.centroids.map { case (cid, cv) =>
      struct(intD2(q, cv).as("d2"), lit(cid).as("cid"))
    }: _*)), 1, nprobe)

  /** Every column of `queries` plus `cell`: one row per probed cell of
    * the query vector column `q`. */
  def probe(queries: DataFrame, q: String, model: IntModel, nprobe: Int): DataFrame =
    queries.select(col("*"), explode(probeCells(col(q), model, nprobe)).as("p"))
      .select((queries.columns.toSeq.map(c => col(s"`$c`")) :+ col("p.cid").as("cell")): _*)

  /** The k seed rows under the hash-coin rank (ties by id) — one
    * bounded TakeOrderedAndProject collect, shared by [[fit]] and
    * [[fitInt]]. */
  private def seedRows(base: DataFrame, k: Int): Array[org.apache.spark.sql.Row] =
    base.orderBy(graft.util.Det.hashCoin(col("id")), col("id")).limit(k).collect()

  /** Round-half-up of s/n for any sign of s, in pure integer arithmetic:
    * shift by 127n so the numerator is non-negative (grid values are in
    * [-127,127]), where truncating and floor division agree on every
    * engine. */
  private def roundDiv(s: Long, n: Long): Long =
    (2L * (s + 127L * n) + n) / (2L * n) - 127L

  /** Integer Lloyd: deterministic order-free init (hash-coin rank over
    * ids, vectors already quantized to the int8 grid; the
    * vs_ivf_trained oracle's c0 CTE ranks by the same mixer) + `iters`
    * rounds of integer-L2
    * assignment and BIGINT sum/count centroid updates with fixed
    * round-half-up division. Same Spark shape as [[fit]] (map-only assign
    * + one (cell,dim)-keyed aggregation per round; k×dim rows to the
    * driver) but every number is exact — the whole trainer replays in SQL. */
  def fitInt(vectors: DataFrame, idCol: String, qCol: String, k: Int, iters: Int): IntModel = {
    val base = vectors.select(col(idCol).as("id"), col(qCol).as("q"))
    var model = IntModel(seedRows(base, k).zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](1).toIndexedSeq) }.toIndexedSeq)
    for (_ <- 0 until iters) {
      val sums = base.withColumn("cell", intCellOf(col("q"), model))
        .select(col("cell"), posexplode(col("q")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getAs[Int]("cell"))
      model = IntModel(model.centroids.map { case (cid, old) =>
        byCell.get(cid) match {
          case Some(rows) =>
            val next = old.toArray
            rows.foreach { r =>
              next(r.getAs[Int]("dim")) =
                roundDiv(r.getAs[Long]("s"), r.getAs[Long]("n"))
            }
            (cid, next.toIndexedSeq)
          case None => (cid, old) // empty cell keeps its centroid
        }
      })
    }
    model
  }

  /** Mean cosine distance of each vector to its assigned centroid —
    * the quantization error Lloyd iterations should not increase. */
  def quantizationError(vectors: DataFrame, vecCol: String, model: Model): Double = {
    val d = least(model.centroids.map { case (_, cv) =>
      lit(1.0) - cosine_similarity(col(vecCol), typedlit(cv))
    }: _*)
    vectors.select(avg(d)).head().getDouble(0)
  }

  /** nprobe-cell approximate kNN over a fitted model. */
  def search(vectors: DataFrame, idCol: String, vecCol: String, model: Model,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      nprobe: Int, kNeighbors: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probeStructs = model.centroids.map { case (cid, cv) =>
      struct(r6(lit(1.0) - cosine_similarity(col("qv"), typedlit(cv))).as("dist"),
        lit(cid).as("cid"))
    }
    val assigned = vectors.select(col(idCol).as("c_id"), col(vecCol).as("cv0"))
      .withColumn("cell", cellOf(col("cv0"), model))
    val probes = queries.select(col(qIdCol).as("q_id"), col(qVecCol).as("qv"))
      .select(col("q_id"), col("qv"),
        explode(slice(array_sort(array(probeStructs: _*)), 1, nprobe)).as("p"))
      .select(col("q_id"), col("qv"), col("p.cid").as("cell"))
    val w = Window.partitionBy("q_id").orderBy(col("dist"), col("c_id"))
    assigned.join(broadcast(probes), "cell")
      .select(col("q_id"), col("c_id"),
        r6(lit(1.0) - cosine_similarity(col("cv0"), col("qv"))).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= kNeighbors)
  }
}
