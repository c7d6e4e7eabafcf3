package graft.functions

import java.nio.ByteBuffer
import java.util.{Comparator, PriorityQueue}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/** k-th smallest long — the KMV sketch's order statistic — as a bounded
  * TypedImperativeAggregate: the buffer is a max-heap of at most k
  * values, so aggregation state is k longs per group no matter how many
  * rows flow through (vs. a window sort over ALL values). Partial
  * aggregation and merges work like any Spark aggregate: map-side
  * combine keeps ≤k values per partition, merges union two heaps and
  * re-truncate. NULL until k distinct values have been seen.
  *
  * Input is expected pre-deduplicated (KMV is defined over the distinct
  * hash set); duplicates would bias the estimate low on both engines.
  */
case class KthMin(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 1, "k must be >= 1")

  override def prettyName: String = "kth_min"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kth_min requires a BIGINT column, got ${child.dataType.simpleString}")
    }

  override def createAggregationBuffer(): PriorityQueue[java.lang.Long] =
    new PriorityQueue[java.lang.Long](k, Comparator.reverseOrder[java.lang.Long]())

  private def insert(heap: PriorityQueue[java.lang.Long], v: Long): Unit = {
    if (heap.size() < k) heap.add(v)
    else if (v < heap.peek()) { heap.poll(); heap.add(v) }
  }

  override def update(heap: PriorityQueue[java.lang.Long], input: InternalRow): PriorityQueue[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(heap, v.asInstanceOf[Long])
    heap
  }

  override def merge(a: PriorityQueue[java.lang.Long], b: PriorityQueue[java.lang.Long]): PriorityQueue[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) insert(a, it.next())
    a
  }

  override def eval(heap: PriorityQueue[java.lang.Long]): Any =
    if (heap.size() < k) null else heap.peek()

  override def serialize(heap: PriorityQueue[java.lang.Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 8 * heap.size())
    buf.putInt(heap.size())
    val it = heap.iterator()
    while (it.hasNext) buf.putLong(it.next())
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[java.lang.Long] = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val heap = createAggregationBuffer()
    (0 until n).foreach(_ => heap.add(buf.getLong))
    heap
  }

  override def withNewMutableAggBufferOffset(offset: Int): KthMin =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KthMin =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): KthMin = copy(child = c)
}

/** The textbook STREAMING KMV sketch: k smallest DISTINCT values —
  * [[KthMin]] with a membership check on insert, which makes the state
  * DUPLICATE-INSENSITIVE (a re-seen value cannot occupy a second heap
  * slot and shrink h_k into an overestimate). That property is what
  * lets the sketch run over a raw stream with NO distinct pre-pass:
  * batch callers dedup with an exchange first ([[graft.ops.Lake]]'s
  * analyze), an always-on stream cannot — the deduping heap IS the
  * bounded state (k longs per group, mergeable by the same
  * insert rule; `contains` is O(k) per row at k=64). Emits h_k (the
  * k-th smallest distinct value), null below k. */
case class KthMinDistinct(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 1, "k must be >= 1")

  override def prettyName: String = "kmv_kth_min"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kmv_kth_min requires a BIGINT column, got ${child.dataType.simpleString}")
    }

  override def createAggregationBuffer(): PriorityQueue[java.lang.Long] =
    new PriorityQueue[java.lang.Long](k, Comparator.reverseOrder[java.lang.Long]())

  private def insert(heap: PriorityQueue[java.lang.Long], v: Long): Unit = {
    val boxed = java.lang.Long.valueOf(v)
    if (heap.size() < k) { if (!heap.contains(boxed)) heap.add(boxed); () }
    else if (v < heap.peek() && !heap.contains(boxed)) { heap.poll(); heap.add(boxed); () }
  }

  override def update(heap: PriorityQueue[java.lang.Long], input: InternalRow): PriorityQueue[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(heap, v.asInstanceOf[Long])
    heap
  }

  override def merge(a: PriorityQueue[java.lang.Long], b: PriorityQueue[java.lang.Long]): PriorityQueue[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) insert(a, it.next())
    a
  }

  override def eval(heap: PriorityQueue[java.lang.Long]): Any =
    if (heap.size() < k) null else heap.peek()

  override def serialize(heap: PriorityQueue[java.lang.Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 8 * heap.size())
    buf.putInt(heap.size())
    val it = heap.iterator()
    while (it.hasNext) buf.putLong(it.next())
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[java.lang.Long] = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val heap = createAggregationBuffer()
    (0 until n).foreach(_ => heap.add(buf.getLong))
    heap
  }

  override def withNewMutableAggBufferOffset(offset: Int): KthMinDistinct =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KthMinDistinct =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): KthMinDistinct = copy(child = c)
}

/** SimHash signature aggregate: folds token hashes into 64 per-bit sign
  * counters (one primitive long[64] buffer) and emits the four 16-bit
  * chunk values. Replaces 64 separate SUM(CASE...) aggregate columns
  * with one buffer update per row — same integer math as the oracle:
  * bit i votes +1 iff (h·(2i+3)) mod 1e9+7 is even, chunk c packs bits
  * 16c..16c+15 as (sum ≥ 0). Commutative integer sums → deterministic
  * under any partitioning/merge order. */
case class SimhashChunks(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  private final val M = 1000000007L

  override def prettyName: String = "simhash_chunks"
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash_chunks requires a BIGINT column, got ${child.dataType.simpleString}")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(acc: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < 64) {
        acc(i) += (if (h * (2 * i + 3) % M % 2 == 0) 1L else -1L)
        i += 1
      }
    }
    acc
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(acc: Array[Long]): Any = {
    val chunks = new Array[Long](4)
    var c = 0
    while (c < 4) {
      var cv = 0L; var j = 0
      while (j < 16) {
        if (acc(16 * c + j) >= 0L) cv |= (1L << j)
        j += 1
      }
      chunks(c) = cv; c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(chunks)
  }

  override def serialize(acc: Array[Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 * 64)
    acc.foreach(buf.putLong)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes)
    Array.fill(64)(buf.getLong)
  }

  override def withNewMutableAggBufferOffset(offset: Int): SimhashChunks =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SimhashChunks =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): SimhashChunks = copy(child = c)
}


/** Hashing-trick count-vector aggregate: folds token hashes into a
  * 64-slot signed count vector in one primitive long[64] buffer —
  * slot h mod 64 gets +1 when (h >> 6) is even, −1 otherwise (the
  * embedder arithmetic of [[graft.ops.VectorSearch.docVectors]] and the
  * vs_ingest oracle). Replaces a (doc, idx) pre-aggregation + per-doc
  * assembly (two shuffles) with ONE map-side-combined aggregate.
  * Commutative integer sums → deterministic under any partitioning. */
case class HashCountVec(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def prettyName: String = "hash_count_vec"
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hash_count_vec requires a BIGINT column, got ${child.dataType.simpleString}")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(acc: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // floorMod keeps the slot in [0, 64) and the sign parity floor-
      // consistent for negative hashes too (a general session function
      // must not index out of bounds; for the non-negative poly_hash
      // domain this is identical to plain % — and to the oracle's
      // (h // 64) % 2, since // is floor division).
      acc(java.lang.Math.floorMod(h, 64L).toInt) +=
        (if (java.lang.Math.floorMod(h >> 6, 2L) == 0L) 1L else -1L)
    }
    acc
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(acc: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(acc.clone())

  override def serialize(acc: Array[Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 * 64)
    acc.foreach(buf.putLong)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes)
    Array.fill(64)(buf.getLong)
  }

  override def withNewMutableAggBufferOffset(offset: Int): HashCountVec =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HashCountVec =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): HashCountVec = copy(child = c)
}

/** MinHash signature aggregate: K permuted minima of the input hashes in
  * one primitive long[K] buffer (vs. K separate MIN aggregate columns).
  * Permutation k: (h·(2k+1) + 1000003·k) mod 1e9+7 — identical to the
  * oracle's arithmetic. Min is commutative/associative → deterministic
  * under any partitioning. Emits array<long>[K]. */
case class MinhashSig(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  private final val M = graft.util.TextUtil.HashMod
  private final val Step = graft.util.TextUtil.MinhashStep
  require(k >= 1, "k must be >= 1")

  override def prettyName: String = "minhash_sig"
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires a BIGINT column, got ${child.dataType.simpleString}")
    }

  override def createAggregationBuffer(): Array[Long] = Array.fill(k)(Long.MaxValue)

  override def update(acc: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < k) {
        val p = (h * (2 * i + 1) + Step * i) % M
        if (p < acc(i)) acc(i) = p
        i += 1
      }
    }
    acc
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(acc: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(acc.clone())

  override def serialize(acc: Array[Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 * k)
    acc.foreach(buf.putLong)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes)
    Array.fill(k)(buf.getLong)
  }

  override def withNewMutableAggBufferOffset(offset: Int): MinhashSig =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MinhashSig =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): MinhashSig = copy(child = c)
}

/** Misra-Gries heavy-hitter candidate sketch over BIGINT keys: the
  * buffer is at most k (key → counter) entries however many rows and
  * distinct keys flow through — the O(k)-state summary that finds
  * frequent keys in one pass where a full groupBy would shuffle every
  * distinct key. GUARANTEE (the only contract callers may rely on):
  * every key with true frequency > n/(k+1) is present in the emitted
  * candidate array. The exact candidate SET beyond that is
  * partition-order-dependent (like any MG merge), which is why the
  * operator built on this ([[graft.ops.Events.evHeavyHitters]]) always
  * re-counts candidates exactly and filters on the guarantee threshold —
  * making the final answer deterministic regardless of merge order.
  * Merging follows Agarwal et al., "Mergeable Summaries": sum counters,
  * then subtract the (k+1)-th largest counter and drop non-positives.
  * Emits the candidate keys sorted ascending. */
case class MisraGries(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[java.lang.Long, java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 1, "k must be >= 1")
  private type Buf = java.util.HashMap[java.lang.Long, java.lang.Long]

  override def prettyName: String = "misra_gries"
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"misra_gries requires a BIGINT column, got ${child.dataType.simpleString}")
    }

  override def createAggregationBuffer(): Buf = new java.util.HashMap[java.lang.Long, java.lang.Long](k * 2)

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      val key = java.lang.Long.valueOf(v.asInstanceOf[Long])
      val cur = buf.get(key)
      if (cur != null) buf.put(key, cur + 1L)
      else if (buf.size() < k) buf.put(key, 1L)
      else {
        // decrement-all step: every stored counter loses 1 (the classic
        // MG charge of the unmatched arrival against all candidates)
        val it = buf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    buf
  }

  override def merge(a: Buf, b: Buf): Buf = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = a.get(e.getKey)
      a.put(e.getKey, if (cur == null) e.getValue else java.lang.Long.valueOf(cur + e.getValue))
    }
    if (a.size() > k) {
      // subtract the (k+1)-th largest counter from all, drop <= 0
      val vals = new java.util.ArrayList[java.lang.Long](a.values())
      java.util.Collections.sort(vals, Comparator.reverseOrder[java.lang.Long]())
      val m = vals.get(k)
      val it2 = a.entrySet().iterator()
      while (it2.hasNext) {
        val e = it2.next()
        if (e.getValue <= m) it2.remove() else e.setValue(e.getValue - m)
      }
    }
    a
  }

  override def eval(buf: Buf): Any = {
    val keys = new Array[Long](buf.size())
    val it = buf.keySet().iterator()
    var i = 0
    while (it.hasNext) { keys(i) = it.next(); i += 1 }
    java.util.Arrays.sort(keys)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val out = ByteBuffer.allocate(4 + 16 * buf.size())
    out.putInt(buf.size())
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.putLong(e.getKey); out.putLong(e.getValue)
    }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.put(in.getLong, in.getLong))
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGries =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGries =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): MisraGries = copy(child = c)
}

/** Bounded top-k-nearest aggregate: keeps the k smallest (d2, id) pairs
  * (lexicographic — d2 first, id breaks ties, so the result is the
  * EXACT `row_number() OVER (ORDER BY d2, id) <= k` set) in one max-heap
  * buffer of ≤ k pairs per group. This is THE serving cut of every
  * search serve ([[graft.streaming.Streaming.vsSearchStream]] and its
  * indexed siblings): the buffer is k pairs no matter how many corpus
  * candidates flow through, it map-side combines, and merges are heap
  * unions — a groupBy(q_id) over a micro-batch's candidates is 16·k
  * bytes per query, never a window sort. The serves cut each query
  * inside its own micro-batch, so no buffer outlives the batch.
  * Emits array<struct<d2, c_id>> sorted ascending (rank order). */
case class TopKMinPairs(left: Expression, right: Expression, k: Int,
    distinct: Boolean = false,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[(Long, Long)]]
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  require(k >= 1, "k must be >= 1")

  override def prettyName: String = "top_k_min_pairs"
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("d2", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("c_id", LongType, nullable = false))),
      containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"top_k_min_pairs requires (BIGINT dist, BIGINT id), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    }

  // Max-first lexicographic heap: peek() is the WORST kept pair.
  private def cmp: Comparator[(Long, Long)] =
    new Comparator[(Long, Long)] {
      def compare(a: (Long, Long), b: (Long, Long)): Int = {
        val c = java.lang.Long.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(b._2, a._2)
      }
    }
  override def createAggregationBuffer(): PriorityQueue[(Long, Long)] =
    new PriorityQueue[(Long, Long)](k, cmp)

  private def insert(heap: PriorityQueue[(Long, Long)], v: (Long, Long)): Unit = {
    val full = heap.size() >= k
    if (full) {
      // Cheap worst-bound rejection FIRST (r16 advice): on a full heap
      // most candidates lose to the worst kept pair, and a duplicate of
      // an in-heap pair that EQUALS the worst is rejected here too — so
      // the O(k) distinct scan below only runs for candidates that
      // would actually enter.
      val worst = heap.peek()
      if (!(v._1 < worst._1 || (v._1 == worst._1 && v._2 < worst._2))) return
    }
    if (distinct) {
      // Duplicate candidates (e.g. a pair colliding in several LSH
      // bands) carry an IDENTICAL (dist, id) tuple — the distance is a
      // deterministic function of the pair — so tuple equality IS id
      // dedup. O(k) scan per would-be insert; k is the serving cut
      // (10ish).
      val it = heap.iterator()
      while (it.hasNext) if (it.next() == v) return
    }
    if (full) { heap.poll(); () }
    heap.add(v)
    ()
  }

  override def update(heap: PriorityQueue[(Long, Long)], input: InternalRow): PriorityQueue[(Long, Long)] = {
    val d = left.eval(input); val id = right.eval(input)
    if (d != null && id != null)
      insert(heap, (d.asInstanceOf[Long], id.asInstanceOf[Long]))
    heap
  }

  override def merge(a: PriorityQueue[(Long, Long)], b: PriorityQueue[(Long, Long)]): PriorityQueue[(Long, Long)] = {
    val it = b.iterator()
    while (it.hasNext) insert(a, it.next())
    a
  }

  override def eval(heap: PriorityQueue[(Long, Long)]): Any = {
    val arr = new Array[(Long, Long)](heap.size())
    val it = heap.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    java.util.Arrays.sort(arr, cmp.reversed())
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      arr.map(p => InternalRow(p._1, p._2)): Array[Any])
  }

  override def serialize(heap: PriorityQueue[(Long, Long)]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 16 * heap.size())
    buf.putInt(heap.size())
    val it = heap.iterator()
    while (it.hasNext) { val p = it.next(); buf.putLong(p._1); buf.putLong(p._2) }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[(Long, Long)] = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val heap = createAggregationBuffer()
    (0 until n).foreach(_ => heap.add((buf.getLong, buf.getLong)))
    heap
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKMinPairs =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKMinPairs =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopKMinPairs =
    copy(left = l, right = r)
}
