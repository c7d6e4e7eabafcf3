package graft.ops

import graft.Tables
import graft.functions._
import graft.util.Det._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deduplication suite for the LLM-training-data pipeline (documents +
  * embeddings tables) — the operator family a 100 TB corpus clean-up needs.
  *
  * Scale posture: every near-dup operator generates candidate pairs through
  * a *bucketing key* (MinHash LSH band, SimHash chunk, source block) and
  * only verifies candidates exactly — never an O(n²) all-pairs join over
  * the corpus. Exact dedup is a single hash aggregate with map-side
  * combine. All hash arithmetic is integer (poly_hash mod 1e9+7) so the
  * DuckDB oracle regenerates identical buckets.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  private final val M = graft.util.TextUtil.HashMod
  private final val Step = graft.util.TextUtil.MinhashStep
  private def toksCol: Column = graft.util.TextUtil.toksCol
  private val toksSql = graft.util.TextUtil.toksSql
  private def polySql(c: String) = graft.util.TextUtil.polySql(c)

  // ── dedup_exact — md5(text) hash-group, keep min id ──────────────────
  /** One hash aggregate (map-side combined); the canonical survivor is the
    * min doc_id per content hash. At 100 TB: shuffle on the 128-bit hash,
    * perfectly parallel, no skew (hashes uniform). */
  def dedupExact: Q = (spark, dir) => {
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy("h")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .orderBy("keep_id")
  }
  val dedupExactSql = """
    SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n
    FROM documents GROUP BY 1 ORDER BY keep_id"""

  // ── dedup_minhash_lsh — 3-shingle → 16 minhashes → 4 bands → Jaccard ─
  /** Word 3-shingles → poly_hash → K=16 permuted minhashes → 4 bands of 4.
    * Candidates share a band key (hash join on the band string — the 100 TB
    * path: corpus-sized data only shuffles on band keys, and banding keys
    * can be salted if a degenerate bucket appears). Candidates are then
    * verified with exact shingle-set Jaccard ≥ 0.7. */
  /** (doc_id, h) exploded per-doc-distinct word-3-shingle hashes — the
    * ONE definition of the shingle pipeline, shared by
    * [[dedupMinhashLsh]] and [[containmentPairs]] (and mirrored by the
    * shared SQL prefix [[shinglePrefixCtes]]).
    * materializedColumn: tokenize once per row — otherwise
    * CollapseProject inlines the tokenize into every toks[i] reference
    * inside the shingle lambda (O(len·refs) recompute blowup). */
  private def wordShingleHashes(docsRaw: DataFrame): DataFrame = {
    val docs = materializedColumn(docsRaw, "toks", toksCol)
      .select(col("doc_id"), col("toks"))
      .filter(size(col("toks")) >= 3)
    docs.select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(0), size(col("toks")) - 3),
          i => concat(col("toks")(i), lit(" "), col("toks")(i + 1), lit(" "),
            col("toks")(i + 2))))).as("s"))
      .select(col("doc_id"), poly_hash(col("s")).as("h"))
  }

  /** Per-doc (sig, hash-set) table + banded candidate pairs — factored
    * so [[graft.Audits]] counts the EXACT candidate frame the query
    * runs (the sweep's superlinear-drift telemetry), not a replica. */
  /** Per-doc (sig, hs) minhash signature table over any (doc_id, text)
    * frame — ONE aggregation computes both the 16-slot minhash
    * signature (graft.functions.MinhashSig — all minima in a single
    * primitive buffer) and the distinct hash set the verify stage
    * needs; the per-doc frame is materialized once so band explodes
    * and verify joins read it back instead of re-running the
    * shingle→hash pipeline and a second groupBy (r2 computed that
    * subtree 3×). Factored (r12) so
    * [[TextAnalysis.textFuzzyDecontaminate]] can band-join ACROSS the
    * train/eval split from the same signatures. */
  private[ops] def minhashPer(docsRaw: DataFrame): DataFrame = {
    val hx = wordShingleHashes(docsRaw)
    persistRound(hx.groupBy("doc_id")
        .agg(minhash_sig(col("h"), 16).as("sig"), collect_set(col("h")).as("hs")),
      eager = false)
  }
  private[graft] def minhashPerAndCandidates(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val per = minhashPer(Tables.documents(spark, dir).select("doc_id", "text"))
    val bandKeys = (0 until 4).map { b =>
      concat_ws(":", lit(b) +: (0 until 4).map(j => col("sig").getItem(4 * b + j)): _*)
    }
    val bands = per.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    (per, cand)
  }
  /** The verified MinHash near-dup pair graph — the shared staging
    * artifact [[dedupMinhashLsh]], [[dedupClusters]] and
    * [[dedupSurvivor]] all start from, memoized per (session, dir)
    * (see [[pairFrameShared]]). Content ≡ the inline spelling. */
  private[graft] def minhashVerifiedPairs(spark: SparkSession, dir: String): DataFrame =
    pairFrameShared(spark, dir, "minhash") {
      val (per, cand) = minhashPerAndCandidates(spark, dir)
      // Exact Jaccard verified over the *hashed* shingle sets (long arrays —
      // set ops ~10× cheaper than over shingle strings; collisions affect
      // both engines identically so the oracle stays exact).
      persistRound(cand
        .join(per.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
        .join(per.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
        .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("double"))
        .select(col("a_id"), col("b_id"),
          r6(col("inter") / (size(col("ha")) + size(col("hb")) - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.7),
        eager = false)
    }
  def dedupMinhashLsh: Q = (spark, dir) =>
    minhashVerifiedPairs(spark, dir).orderBy("a_id", "b_id")
  /** Shared CTE chain: tokenize → shingle → minhash → bands → verified
    * near-dup pairs (used by both the pair query and the cluster query). */
  private[ops] def minhashCtesShared: String = minhashCtes
  /** Shared tokenize→shingle SQL prefix (the oracle twin of
    * [[wordShingleHashes]]). */
  private val shinglePrefixCtes = s"""
    WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
    sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles FROM tt),
    shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh)"""
  /** Shingle→hash→16-minhash→hash-set CTE chain WITHOUT a banding rule
    * (ends with `mh` and `hsets`) — shared by [[dedupMinhashLsh]]'s
    * 4-wide self-join bands and
    * [[TextAnalysis.textFuzzyDecontaminate]]'s 2-wide cross-split
    * bands. */
  private[ops] val minhashSigCtes: String = shinglePrefixCtes + s""",
    hx AS (SELECT doc_id, ${polySql("s")} AS h FROM shx),
    ks AS (SELECT range AS k FROM range(0, 16)),
    mh AS (SELECT doc_id, k, MIN((h * (2*k+1) + $Step*k) % $M) AS mh
           FROM hx, ks GROUP BY 1, 2),
    hsets AS (SELECT doc_id, list(DISTINCT h) AS hs FROM hx GROUP BY doc_id)"""
  private val minhashCtes = minhashSigCtes + s""",
    bands AS (SELECT doc_id, (k // 4) || ':' || string_agg(mh::VARCHAR, ':' ORDER BY k) AS bk
              FROM mh GROUP BY doc_id, k // 4),
    cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
             FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id),
    jj AS (SELECT a_id, b_id,
             round(len(list_intersect(a.hs, b.hs))::DOUBLE
               / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 6) AS jaccard
           FROM cand JOIN hsets a ON a.doc_id = a_id JOIN hsets b ON b.doc_id = b_id)"""

  val dedupMinhashLshSql: String = minhashCtes +
    "\n    SELECT a_id, b_id, jaccard FROM jj WHERE jaccard >= 0.7 ORDER BY a_id, b_id"

  // ── dedup_clusters — connected components over near-dup pairs ────────
  final val ClusterIters = 50 // convergence-loop hard cap

  /** Per-round materialization — see [[graft.util.Persist.stage]] (the
    * shared reliable-vs-local checkpoint policy). The round's plan stays
    * flat instead of nesting the whole upstream pipeline once per
    * iteration; `eager = false` lets the CC loop's per-round count
    * double as the materialization job (halving round actions — the r2
    * bench's dominant cost was scheduling ~3 jobs/round on a tiny edge
    * set). */
  private def persistRound(df: DataFrame, eager: Boolean = true): DataFrame =
    graft.util.Persist.stage(df, eager)

  // ── Shared candidate-frame memos (r19 optimization round) ────────────
  // The two verified-pair graphs are each recomputed by THREE sibling
  // keys per sweep (minhash pairs: dedup_minhash_lsh → dedup_clusters →
  // dedup_survivor; embedding-scored pairs: dedup_embedding →
  // dedup_semantic → pipeline_e2e), and every rerun pays the full
  // banding + verify pipeline over the corpus. Same plan-level-reuse
  // posture as [[graft.ops.NnGraph.buildShared]] / the IVF model memo:
  // both builders are deterministic, the memoized frame is
  // content-identical to a fresh build (sibling hashes unchanged), and
  // in a deployment the verified pair graph is the curation run's
  // shared staging artifact, computed once per corpus. Frames are
  // staged through [[graft.util.Staged]] like every shared artifact.
  private def pairFrameShared(spark: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame =
    graft.util.Staged.get(spark, s"dedup.$tag", dir)(build)

  /** Connected components via the alternating large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): converges in O(log² n) rounds regardless of component
    * diameter — vs. plain min-id propagation's O(diameter) rounds, which
    * stalls on chain-shaped components at corpus scale. Each half-round
    * is one groupBy(min) + one hash join, both shuffling on node id.
    *
    * Input: undirected pair list (a_id, b_id). Output: (doc_id,
    * cluster_id) for every endpoint, cluster_id = component min.
    * Returns the converged labels plus the rounds taken (spec hook). */
  private[graft] def connectedComponentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.sql.functions.{min => fmin}
    var und = persistRound(pairs
      .select(least(col("a_id"), col("b_id")).as("a"),
        greatest(col("a_id"), col("b_id")).as("b"))
      .filter(col("a") =!= col("b")).distinct(), eager = false)
    val nodes = pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id").as("id"))).distinct()
    // Convergence: the canonical edge set is a fixpoint of both star ops
    // exactly when every component is a star rooted at its min. The test
    // is exact SET equality — count fast-path, then an anti-join (a
    // (count, sum) signature can collide on a non-fixpoint edge set and
    // would silently emit half-converged labels).
    var converged = false
    var rounds = 0
    var undCount = und.count()
    while (!converged && rounds < ClusterIters) {
      // large-star: every edge {u,v}, u<v, reconnects v to
      // m(u) = min(Γ(u) ∪ {u}) — processed from its smaller endpoint.
      val symL = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      val minsL = symL.groupBy("u").agg(fmin("v").as("mn"))
      // No distinct here: duplicate edges don't affect the small phase's
      // min aggregation, and the round's closing distinct dedups anyway —
      // dropping it saves one corpus shuffle per round.
      val large = symL.join(minsL, "u").filter(col("v") > col("u"))
        .select(least(col("mn"), col("u")).as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b"))
      // small-star: every node u links itself and all smaller neighbors
      // to its smallest neighbor.
      val symS = large.select(col("b").as("u"), col("a").as("v"))
      val minsS = symS.groupBy("u").agg(fmin("v").as("m"))
      val small = symS.join(minsS, "u")
        .select(col("m").as("a"), col("v").as("b"))
        .union(minsS.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b")).distinct()
      // Lazy checkpoint + count: the count below is the ONE action per
      // round — it materializes the checkpoint and feeds the convergence
      // fast-path (vs. r2's eager-checkpoint job + count job + anti-join
      // job every round).
      val next = persistRound(small, eager = false)
      // Exact set equality (count fast-path, then anti-join): a
      // (count, sum) signature can collide on a non-fixpoint edge set
      // and would silently emit half-converged labels. Both frames are
      // distinct, so equal counts + next⊆und implies equality. The
      // previous round's count is reused, not recomputed, and the
      // anti-join only runs on the rounds whose counts already match.
      val nextCount = next.count()
      converged = nextCount == undCount &&
        next.join(und, Seq("a", "b"), "left_anti").isEmpty
      und = next
      undCount = nextCount
      rounds += 1
    }
    // Star-leaf label extraction is only valid on a converged (star) edge
    // set; the cap is far above the O(log² n) bound, so hitting it means
    // the input violates an invariant — fail loudly, never emit
    // half-converged cluster ids.
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $ClusterIters rounds")
    val leaf = und.groupBy(col("b").as("id2")).agg(fmin("a").as("lbl"))
    val labels = nodes.join(leaf, nodes("id") === leaf("id2"), "left")
      .select(col("id").as("doc_id"), coalesce(col("lbl"), col("id")).as("cluster_id"))
    (labels, rounds)
  }

  /** Every duplicate document resolves to the smallest doc_id in its
    * connected component of the verified MinHash pair graph (the retained
    * canonical). Oracle: DuckDB recursive reachability. */
  def dedupClusters: Q = (spark, dir) => {
    // The pair graph is the memoized staged artifact — already
    // materialized once per (session, dir), so the star rounds read a
    // checkpoint, never the minhash pipeline.
    val pairs = minhashVerifiedPairs(spark, dir).select("a_id", "b_id")
    connectedComponentsWithRounds(pairs)._1.orderBy("doc_id")
  }
  val dedupClustersSql: String = minhashCtes + s""",
    pairs AS (SELECT a_id, b_id FROM jj WHERE jaccard >= 0.7),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION SELECT b_id, a_id FROM pairs
      UNION SELECT a_id, a_id FROM pairs
      UNION SELECT b_id, b_id FROM pairs),
    reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
      SELECT * FROM r)
    SELECT src AS doc_id, MIN(dst) AS cluster_id
    FROM reach GROUP BY src ORDER BY doc_id"""

  // ── dedup_survivor — keep-BEST near-dup survivorship (not min-id) ────
  /** Survivorship policy: real pipelines keep the best copy of a
    * near-dup group, not the lowest id. Composes the verified MinHash
    * pair graph with the text-quality score: a doc is DROPPED when any
    * neighbor beats it on (score desc, id asc); the pairwise-greedy rule
    * needs no iteration (one aggregate over the symmetric pair list),
    * and each group's best member always survives. Corpus-sized data
    * touches only the two score joins (hash joins on doc id); the pair
    * list is the tiny verified-candidate set. Emits every pair
    * participant with its score, neighbor count, and verdict — the
    * audit record a dedup run should leave behind. */
  def dedupSurvivor: Q = (spark, dir) => {
    val pairs = minhashVerifiedPairs(spark, dir).select("a_id", "b_id")
    val scores = TextAnalysis.qualityScoresFrame(spark, dir)
    val sym = pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
      .union(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
    sym
      .join(scores.select(col("doc_id").as("id"), col("score").as("s_id")), "id")
      .join(scores.select(col("doc_id").as("nb"), col("score").as("s_nb")), "nb")
      .groupBy("id")
      .agg(max(when(col("s_nb") > col("s_id") ||
            (col("s_nb") === col("s_id") && col("nb") < col("id")), 1L)
          .otherwise(0L)).as("beaten"),
        count(lit(1)).as("n_neighbors"), max("s_id").as("score"))
      .select(col("id").as("doc_id"), col("score"), col("n_neighbors"),
        (lit(1L) - col("beaten")).as("survives"))
      .orderBy("doc_id")
  }
  val dedupSurvivorSql: String = minhashCtes + s""",
    pairs AS (SELECT a_id, b_id FROM jj WHERE jaccard >= 0.7),
    sym AS (SELECT a_id AS id, b_id AS nb FROM pairs
            UNION ALL SELECT b_id, a_id FROM pairs),
    sc AS (${TextAnalysis.qualityScoresSql})
    SELECT s.id AS doc_id, MAX(a.score) AS score,
      COUNT(*) AS n_neighbors,
      CAST(1 - MAX(CASE WHEN b.score > a.score
                     OR (b.score = a.score AND s.nb < s.id)
                   THEN 1 ELSE 0 END) AS BIGINT) AS survives
    FROM sym s JOIN sc a ON a.doc_id = s.id JOIN sc b ON b.doc_id = s.nb
    GROUP BY s.id ORDER BY doc_id"""

  // ── dedup_simhash — 64-bit SimHash, 32-bit chunk-pair banding, Ham ≤ 2 ─
  /** Token-hash sign votes per bit; the 64-bit signature is kept as four
    * 16-bit chunks. Candidate pairs share one of the C(4,2)=6 *chunk-pair*
    * keys (32-bit values): ≤ 2 bit errors can damage at most 2 of the 4
    * chunks, so some pair of chunks is always intact — pigeonhole-exact
    * for the Hamming ≤ 2 threshold. The 32-bit key space grows with
    * content (vs. a single 16-bit chunk's fixed 65,536 buckets, which
    * turns quadratic at corpus scale); corpus-sized data shuffles only on
    * (pair_idx, pair_val). Verified with exact bit_count(xor).
    *
    * Degenerate-signature buckets are capped ([[graft.util.Skew.cappedSelfPairs]],
    * SQL mirrored with the same HAVING filter): sign-vote signatures are
    * low-entropy for short documents — the all-ones chunk pair
    * (pv = 0xFFFFFFFF, every vote ≥ 0) is CONTENT-INDEPENDENT, so these
    * buckets grow with corpus size, not content diversity, and their
    * self-join is the one quadratic path banding cannot fix (measured: a
    * 10× corpus grew the all-ones bucket 343 → 7,873 rows and candidate
    * pairs 247 k → 120 M, a 486× blowup). The cap (2,000) sits ~6× above
    * the largest sf0.1 bucket and ~60× above oracle-scale (sf0.01)
    * buckets, so driver-checked results are the uncapped join exactly. */
  private[graft] final val ChunkPairs = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
  private[graft] final val SimhashBucketCap = 2000L
  /** Per-doc 64-bit SimHash as four 16-bit chunks (doc_id, c0..c3). One
    * custom aggregate (graft.functions.SimhashChunks) folds all 64 sign
    * counters in a single primitive buffer per group — vs. 64 separate
    * SUM(CASE ...) columns. Same integer math as the oracle. */
  private[graft] def simhashChunksDf(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toksCol).as("tok"))
      .select(col("doc_id"), poly_hash(col("tok")).as("h"))
    h.groupBy("doc_id").agg(simhash_chunks(col("h")).as("ch"))
      .select(col("doc_id"), col("ch").getItem(0).as("c0"), col("ch").getItem(1).as("c1"),
        col("ch").getItem(2).as("c2"), col("ch").getItem(3).as("c3"))
  }
  /** Chunk-pair bucketed candidates over a chunks frame (see
    * [[minhashPerAndCandidates]] on why this is factored). */
  private[graft] def simhashCandidates(chunks: DataFrame): DataFrame = {
    val expl = chunks.select(col("doc_id"),
      posexplode(array(ChunkPairs.map { case (i, j) =>
        col(s"c$i") * 65536L + col(s"c$j")
      }: _*)).as(Seq("pi", "pv")))
    graft.util.Skew.cappedSelfPairs(expl, "doc_id",
      Seq("pi", "pv"), SimhashBucketCap)
  }
  def dedupSimhash: Q = (spark, dir) => {
    val chunks = simhashChunksDf(spark, dir)
    val cand = simhashCandidates(chunks)
    val ham = (0 until 4).map(c =>
      bit_count(col(s"ac$c").bitwiseXOR(col(s"bc$c")))).reduce(_ + _).cast("long")
    cand
      .join(chunks.select(col("doc_id").as("a_id"),
        col("c0").as("ac0"), col("c1").as("ac1"), col("c2").as("ac2"), col("c3").as("ac3")), "a_id")
      .join(chunks.select(col("doc_id").as("b_id"),
        col("c0").as("bc0"), col("c1").as("bc1"), col("c2").as("bc2"), col("c3").as("bc3")), "b_id")
      .select(col("a_id"), col("b_id"), ham.as("hamming"))
      .filter(col("hamming") <= 2)
      .orderBy("a_id", "b_id")
  }
  val dedupSimhashSql = s"""
    WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
    h AS (SELECT doc_id, ${polySql("tok")} AS h FROM tok),
    bits AS (SELECT doc_id, i,
               SUM(CASE WHEN (h * (2*i+3) % $M) % 2 = 0 THEN 1 ELSE -1 END) AS s
             FROM h, (SELECT range AS i FROM range(0, 64)) GROUP BY 1, 2),
    chunks AS (SELECT doc_id, i // 16 AS ci,
                 CAST(SUM(CASE WHEN s >= 0 THEN 1 << (i % 16) ELSE 0 END) AS BIGINT) AS cv
               FROM bits GROUP BY 1, 2),
    wide AS (SELECT doc_id,
               MAX(CASE WHEN ci = 0 THEN cv END) AS c0, MAX(CASE WHEN ci = 1 THEN cv END) AS c1,
               MAX(CASE WHEN ci = 2 THEN cv END) AS c2, MAX(CASE WHEN ci = 3 THEN cv END) AS c3
             FROM chunks GROUP BY 1),
    pairs AS (SELECT doc_id, p.pi AS pi,
                CASE p.pi WHEN 0 THEN c0*65536+c1 WHEN 1 THEN c0*65536+c2
                          WHEN 2 THEN c0*65536+c3 WHEN 3 THEN c1*65536+c2
                          WHEN 4 THEN c1*65536+c3 ELSE c2*65536+c3 END AS pv
              FROM wide, (SELECT range AS pi FROM range(0, 6)) p),
    bsizes AS (SELECT pi, pv FROM pairs GROUP BY 1, 2
               HAVING COUNT(*) <= $SimhashBucketCap),
    kept AS (SELECT p.* FROM pairs p JOIN bsizes USING (pi, pv)),
    cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
             FROM kept x JOIN kept y
               ON x.pi = y.pi AND x.pv = y.pv AND x.doc_id < y.doc_id)
    SELECT a_id, b_id,
      CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
         + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS BIGINT) AS hamming
    FROM cand JOIN wide a ON a.doc_id = a_id JOIN wide b ON b.doc_id = b_id
    WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
        + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 2
    ORDER BY a_id, b_id"""

  // ── dedup_ngram_jaccard — exact char-3-gram Jaccard, minhash-blocked ─
  /** Exact character-3-gram Jaccard with *content-based* blocking: 16
    * minhashes of the avalanche-mixed gram set → 8 bands of 2, each
    * conjoined with a length band (see [[ngramBandKeyed]]). Band values
    * are drawn from the mixed gram-hash space, so bucket count grows
    * with corpus content — the property a bounded key space (a pure
    * length band, an unmixed minhash that collapses to the global min
    * gram) lacks, and whose absence goes quadratic at 100 TB. Three
    * scale defenses between band join and verify, all mirrored by the
    * oracle: the degenerate-bucket cap ([[NgramBucketCap]]), the
    * minhash-agreement prefilter ([[NgramSigFloor]] — evaluated inside
    * the band self-join, before the pair-dedup shuffle), and only then
    * the exact char-gram Jaccard verify over the pairs that survive.
    * The oracle regenerates the identical bands (same mixer + hash
    * arithmetic). */
  private[graft] final val NgramBucketCap = 2000L
  private[graft] final val NgramSigFloor = 11L
  // ~1.6 KB of gram+sig payload per doc ⇒ 200k docs ≈ 320 MB broadcast.
  private[graft] final val NgramBroadcastDocLimit = 200000L
  /** Band-key frame (doc_id, bk) for the ngram blocking: 8 minhash
    * bands of 2, each conjoined with a ⌊len/16⌋ length band (each doc
    * emits lb and lb+1 so any pair within 16 chars shares a length key)
    * = 16 keys per doc. Rows stay NARROW (24 bytes) — the agreement
    * prefilter fetches signatures via broadcast join after the band
    * join, because carrying two 16-slot arrays through the b²/2 join
    * emissions was measured 2× slower than the whole unfused query at
    * sf1. The length conjunct is load-bearing on templated
    * corpora: measured at sf0.1, dropping it merged the band space from
    * 10.0k buckets down to 1.1k and grew raw candidate pairs 2.1M→14.6M
    * (with the two biggest buckets blowing past the degenerate cap).
    * Its cost is a bounded recall window — j ≥ 0.8 permits a ~25%
    * length difference, wider than ±16 chars on long documents — which
    * is acceptable for the near-dup regime this op targets (whole-doc
    * perturbations; containment-style partial overlap is
    * [[dedupContainment]]'s job). Split out so BucketStats can audit
    * the bucket-size distribution the candidate join will see. */
  private[graft] def ngramBandKeyed(mh: DataFrame): DataFrame = {
    // cp tags WHICH length copy emitted the key (0 = lb, 1 = lb+1). A
    // same-lb pair would otherwise collide on BOTH its lb and lb+1 keys
    // — a guaranteed 2× duplication of every same-band same-lb pair —
    // so the candidate join drops (cp=1, cp=1) matches: same-lb pairs
    // survive exactly once via (0,0), adjacent-lb pairs once via
    // (0,1)/(1,0), and the candidate SET is unchanged. Measured at sf1:
    // raw band-join rows 30.5M → 16.5M for the identical distinct set.
    // bk is a 64-bit xxhash64 of (band idx, both slot values, length
    // band), not the former "b:s0:s1:lb" string (r20, guide §2.3
    // "narrower types"): the band self-join exchanges, the bucket-cap
    // aggregate and the broadcast of surviving keys all carry 8 bytes
    // per row instead of a ~25-char string, and every key compare is a
    // long equality inside codegen. The candidate SET is unchanged —
    // distinct (b, s0, s1, lb) tuples map to distinct hashes on every
    // measured corpus (a 64-bit collision over the ~10⁵ live band keys
    // has probability ~10⁻⁹ and is deterministic — the oracle compare
    // would catch it loudly) — and the oracle never sees Spark's
    // internal key encoding, only the final verified pairs.
    val bandKeys = (0 until 8).flatMap { b =>
      Seq(0, 1).map { cp =>
        struct(
          xxhash64(lit(b), col("sig").getItem(2 * b),
            col("sig").getItem(2 * b + 1), col("lb") + cp).as("bk"),
          lit(cp.toLong).as("cp"))
      }
    }
    mh.select(col("doc_id"), explode(array(bandKeys: _*)).as("e"))
      .select(col("doc_id"), col("e.bk").as("bk"), col("e.cp").as("cp"))
  }
  /** Per-doc gram set + 16-minhash signature frame (doc_id, lb, grams,
    * sig) — the persisted signature table both the band join and the
    * verify joins read. */
  /** `mixed = false` reproduces the r10 blocking-collapse bug (no
    * avalanche mix → all 16 permutation argmins image the same global
    * min gram → band keys collapse to length∧min-gram) — spec-only, so
    * AuditAlarmSpec can prove the telemetry alarm trips on exactly the
    * historical failure. Production callers never pass it. */
  private[graft] def ngramSignatures(spark: SparkSession, dir: String,
      mixed: Boolean = true): DataFrame = {
    graft.functions.register(spark)
    // Grams are poly_hashed to longs: set ops over long arrays are ~10×
    // cheaper than string arrays and deterministic on both engines.
    // The gram pipeline is ONE fused codegen kernel per row
    // (char_gram_hashes — r20: the HOF spelling paid four interpreted
    // higher-order functions plus a substring+toString allocation PER
    // GRAM POSITION; the kernel is element-identical, see
    // [[graft.functions.CharGramHashes]]). The narrow (doc_id, lb,
    // text) projection is spread across the cluster first: the corpus
    // sits in a handful of parquet files, so maxPartitionBytes — which
    // splits by BYTES, blind to per-row CPU — coalesces this
    // compute-bound stage onto 1-2 input partitions (same fix and
    // rationale as VectorSearch.lshBands' wide-geometry spread; per-doc
    // outputs are partition-independent so results are unchanged).
    val src = Tables.documents(spark, dir).filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        (length(col("text")).cast("long") / 16).cast("long").as("lb"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
    val g = materializedColumn(src,
        "grams", char_gram_hashes(lower(col("text"))))
      .select(col("doc_id"), col("lb"), col("grams"))
    // The 16 minhashes are pure map-side folds over the gram set — no
    // explode/shuffle; same permutation arithmetic as MinhashSig. The
    // whole per-doc gram+signature table is checkpointed ONCE: the band
    // self-join and the two verify joins would otherwise each recompute
    // the gram arrays from the raw text (4× O(len) per doc). At lake
    // scale this materialization is the signature table a real pipeline
    // persists.
    // Avalanche-mix each gram hash BEFORE the minhash permutations:
    // poly_hash_cp of a 3-char gram stays < ~1.2e5 for ASCII text, so
    // the affine "permutations" (h·(2k+1)+1000003k) mod M never wrap —
    // all 16 are monotone in h, every slot is the image of the SAME
    // globally-minimal gram, and the blocking silently collapses to
    // length-band ∧ shared-min-gram (measured at sf0.1: all 16 signature
    // slots agreed on 100% of candidate pairs). A length-band key space
    // is bounded by max document length, which is the quadratic-at-scale
    // failure the content-based design exists to avoid. The two-round
    // multiply-xor mixer (same arithmetic as VectorSearch.planeVal;
    // every intermediate < 2⁶³) spreads grams over [0, 2³¹) so the 16
    // permutation argmins genuinely differ and band keys carry content.
    // mixed=true (every production caller) fuses the mix + 16 minima
    // into ONE kernel pass ([[graft.functions.MixedMinhash16]] —
    // bit-identical arithmetic); the spec-only mixed=false arm keeps
    // the HOF spelling so AuditAlarmSpec can still reproduce the r10
    // blocking collapse from UNMIXED grams.
    val sigged =
      if (mixed) g.withColumn("sig", mixed_minhash16(col("grams")))
      else {
        val gm = materializedColumn(g, "mixed", col("grams"))
        val sigCol = transform(sequence(lit(0), lit(15)), k =>
          array_min(transform(col("mixed"),
            m => (m * (k * 2 + 1) + lit(Step) * k) % lit(M))))
        materializedColumn(gm, "sig", sigCol)
      }
    persistRound(sigged.select("doc_id", "lb", "grams", "sig"))
  }
  /** Signature table + RAW banded pair stream (pre-prefilter,
    * pre-distinct) — the volume that must stay linear in corpus size
    * (the r10 blocking-collapse bug was found by counting exactly this
    * frame); factored so [[graft.Audits]] counts what the query runs. */
  private[graft] def ngramRawPairs(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    ngramRawPairsFrom(ngramSignatures(spark, dir))
  /** The raw banded join from a given signature frame — factored so
    * AuditAlarmSpec can run the production join shape over the
    * deliberately-collapsed (unmixed) signatures. */
  private[graft] def ngramRawPairsFrom(mh: DataFrame): (DataFrame, DataFrame) = {
    val keyed = ngramBandKeyed(mh)
    val b = graft.util.Persist.stage(keyed, eager = false)
    val ok = b.groupBy("bk").agg(count(lit(1)).as("n"))
      .filter(col("n") <= NgramBucketCap).select("bk")
    val kept = b.join(ok, "bk")
    val raw = kept.as("x")
      .join(kept.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id") &&
          !(col("x.cp") === 1L && col("y.cp") === 1L))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    (mh, raw)
  }
  /** Count of band buckets the [[NgramBucketCap]] EXCLUDES — zero on
    * every healthy corpus (the cap sits ~6× above the largest measured
    * sf1 bucket); any nonzero value means blocking has degenerated far
    * enough that candidates are being silently DROPPED (recall loss,
    * invisible to the pair-volume alarms). Audited per sweep with a
    * zero-tolerance bound. */
  private[graft] def ngramCappedBuckets(spark: SparkSession, dir: String): Long =
    ngramBandKeyed(ngramSignatures(spark, dir))
      .groupBy("bk").agg(count(lit(1)).as("n"))
      .filter(col("n") > NgramBucketCap).count()
  /** Same zero-tolerance audit for the embedding-LSH bucket cap. */
  private[graft] def embeddingCappedBuckets(spark: SparkSession, dir: String): Long =
    VectorSearch.lshBandsAdaptive(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding")
      .groupBy("band_idx", "band_val").agg(count(lit(1)).as("n"))
      .filter(col("n") > VectorSearch.LshBucketCap).count()
  def dedupNgramJaccard: Q = (spark, dir) => {
    val (mh, raw) = ngramRawPairs(spark, dir)
    // Candidate stage: bucket-cap the band keys (degenerate-bucket
    // contract as in dedup_simhash — one boilerplate band key must not
    // emit b²/2 pairs on one reducer; the cap sits ~6× above the
    // largest measured sf1 bucket, so test-scale results equal the
    // uncapped join), self-join the NARROW (doc_id, bk) rows, then
    // evaluate the minhash-agreement prefilter on the raw join output —
    // BEFORE the pair-dedup distinct, so the dedup shuffle only ever
    // sees floor survivors (sf1: 30.5M joined rows → ~4M past the
    // floor → 1.9M distinct pairs, vs deduping all 9.4M first).
    //
    // The prefilter fetches each side's 16 minhashes via broadcast join
    // as 16 FLAT COLUMNS, not an array: the 16-term equality sum stays
    // inside whole-stage codegen, where an array zip_with/aggregate
    // would fall back to interpreted per-row closures on 30M rows — and
    // the broadcast (50k docs × 17 longs ≈ 7 MB at sf1) keeps the 30M-
    // row stream map-side. Gated on a measured doc count (the count
    // doubles as the persisted signature table's materialization
    // action) so a larger corpus degrades to a shuffle join instead of
    // OOMing the driver; at 100 TB the right shape is the persisted
    // signature table bucketed by doc_id, co-partitioned with the pair
    // stream.
    //
    // The floor ([[NgramSigFloor]]): only pairs agreeing on ≥11 of 16
    // slots proceed to the exact verify. Measured at sf0.001/0.01/0.1:
    // every exact ≥0.8 pair agrees on ≥12 slots, while the corpus's
    // heavy 0.4–0.7 templated mass sits at 5–10. Mirrored in the
    // oracle, so it is operator contract, not silent truncation; like
    // any LSH parameter it is probabilistic at the margin (P[pass |
    // j=0.8] ≈ 0.92/pair) — LshRecallSpec re-verifies the measured 100%
    // recall vs the exact all-pairs baseline.
    val fitsBroadcast = mh.count() <= NgramBroadcastDocLimit
    def fetch(df: DataFrame): DataFrame = if (fitsBroadcast) broadcast(df) else df
    def sigCols(idName: String, p: String): DataFrame =
      fetch(mh.select(col("doc_id").as(idName) +:
        (0 until 16).map(i => col("sig").getItem(i).as(s"$p$i")): _*))
    val sigEq = (0 until 16)
      .map(i => (col(s"a$i") === col(s"b$i")).cast("long")).reduce(_ + _)
    val pre = raw
      .join(sigCols("a_id", "a"), "a_id")
      .join(sigCols("b_id", "b"), "b_id")
      .filter(sigEq >= NgramSigFloor)
      .select("a_id", "b_id")
      .distinct()
    // `inter` behind a Generate barrier (materializedColumn): spelled as
    // withColumn + filter, the optimizer pushes the jaccard cut into the
    // gram-fetch join's condition AND keeps the projection copy — every
    // surviving pair paid sorted_intersect_count TWICE (r20, the before
    // plan's nodes 53-54; guide §4.4's duplicated-expression trap). The
    // barrier pins ONE evaluation per candidate pair; the filter output
    // is row-identical.
    materializedColumn(pre
        .join(fetch(mh.select(col("doc_id").as("a_id"), col("grams").as("ga"))), "a_id")
        .join(fetch(mh.select(col("doc_id").as("b_id"), col("grams").as("gb"))), "b_id"),
        "inter", sorted_intersect_count(col("ga"), col("gb")).cast("double"))
      .select(col("a_id"), col("b_id"),
        r6(col("inter") / (size(col("ga")) + size(col("gb")) - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("a_id", "b_id")
  }
  /** Unrolled 3-byte polyhash: ((c1·31+c2) mod M ·31 + c3) mod M; band
    * arithmetic mirrors [[graft.functions.MinhashSig]] exactly. */
  val dedupNgramJaccardSql = s"""
    WITH g AS (SELECT doc_id, len(text) // 16 AS lb,
        list_distinct(list_transform(range(1, len(lower(text))-1),
          i -> ((((CAST(unicode(lower(text)[i]) AS BIGINT) * 31
                 + unicode(lower(text)[i+1])) % $M) * 31
                 + unicode(lower(text)[i+2])) % $M))) AS grams
      FROM documents WHERE len(text) >= 3),
    hx AS (SELECT doc_id, lb, unnest(grams) AS h FROM g),
    mx1 AS (SELECT doc_id, lb, (h * 2654435761) % 2147483648 AS x1 FROM hx),
    mx2 AS (SELECT doc_id, lb,
             (xor(x1, x1 // 65536) * 2246822519) % 2147483648 AS x2 FROM mx1),
    mx AS (SELECT doc_id, lb, xor(x2, x2 // 8192) AS m FROM mx2),
    ks AS (SELECT range AS k FROM range(0, 16)),
    mh AS (SELECT doc_id, lb, k, MIN((m * (2*k+1) + $Step*k) % $M) AS mh
           FROM mx, ks GROUP BY 1, 2, 3),
    bands AS (SELECT doc_id, lb, k // 2 AS b,
                string_agg(mh::VARCHAR, ':' ORDER BY k) AS bv
              FROM mh GROUP BY doc_id, lb, k // 2),
    sigs AS (SELECT doc_id, list(mh ORDER BY k) AS sig FROM mh GROUP BY 1),
    keyed AS (SELECT doc_id,
                b || ':' || bv || ':' || CAST(lb + cp AS VARCHAR) AS bk, cp
              FROM bands, (SELECT range AS cp FROM range(0, 2)) c),
    bsz AS (SELECT bk FROM keyed GROUP BY 1 HAVING COUNT(*) <= $NgramBucketCap),
    keptk AS (SELECT k.* FROM keyed k JOIN bsz USING (bk)),
    cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM keptk a JOIN keptk b ON a.bk = b.bk AND a.doc_id < b.doc_id
        AND NOT (a.cp = 1 AND b.cp = 1)),
    sigf AS (SELECT a_id, b_id FROM cand
      JOIN sigs sa ON sa.doc_id = a_id JOIN sigs sb ON sb.doc_id = b_id
      WHERE list_sum(list_transform(range(1, 17),
        i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) >= $NgramSigFloor),
    jj AS (SELECT a_id, b_id,
        round(len(list_intersect(ga.grams, gb.grams))::DOUBLE
          / (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams))), 6) AS jaccard
      FROM sigf JOIN g ga ON ga.doc_id = a_id JOIN g gb ON gb.doc_id = b_id)
    SELECT a_id, b_id, jaccard FROM jj WHERE jaccard >= 0.8 ORDER BY a_id, b_id"""

  // ── dedup_embedding — embedding-cosine near-dup keep/drop decision ───
  /** Cosine near-dup keep/drop: each duplicate maps to its lowest-id
    * retained neighbor. Candidate pairs come from the n-ADAPTIVE
    * random-hyperplane LSH band join (round 12 —
    * [[graft.ops.VectorSearch.lshBandsAdaptive]]: band width grows with
    * log₂(corpus) so the random-collision floor stays linear in n; band
    * count holds ≥0.9 recall of sim ≥ 0.9 pairs at every size) behind
    * the degenerate-bucket cap ([[graft.util.Skew.cappedSelfPairs]]),
    * then verify with the exact kernel — no O(n²) join anywhere in the
    * plan. The oracle regenerates the identical bands (bit-identical
    * mixer planes) AND the identical geometry (the shared integer
    * (r, b) table, picked from its own COUNT(*)); the exact all-pairs
    * baseline is [[graft.ops.VectorSearch.vsRangeSearch]]'s oracle.
    *
    * The 0.4 filter below is a VERIFY floor, not a recall target: the
    * S-curve guarantee covers the near-dup regime (sim ≥ 0.9); lower-sim
    * pairs surface only when bands happen to agree. The measured audit
    * story (see [[graft.Audits]]): candidates that FAIL this verify are
    * the random floor the adaptive geometry bounds per-row; candidates
    * that pass track the corpus's true planted near-dup mass, which in
    * the synthetic sf1 corpus itself grows quadratically (10-copy
    * perturbation groups) — no geometry can shrink that without losing
    * recall. */
  /** LSH-banded candidate pairs over the embeddings table (see
    * [[minhashPerAndCandidates]] on why this is factored). */
  private[graft] def embeddingCandidates(spark: SparkSession, dir: String): DataFrame = {
    val bandsDf = VectorSearch.lshBandsAdaptive(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding")
    graft.util.Skew.cappedSelfPairs(bandsDf, "vec_id",
      Seq("band_idx", "band_val"), VectorSearch.LshBucketCap)
  }
  /** Exact-cosine-scored candidate pairs (keep_id, dup_id, sim) — the
    * verify stage's input, factored so [[graft.Audits]] can count the
    * EXCESS (sim < 0.4 failures, the random band-collision floor the
    * adaptive geometry bounds) on the exact frame the query runs. */
  private[graft] def embeddingScoredCandidates(
      spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"),
      inner_product(col("embedding"), col("embedding")).as("nsq"))
    embeddingCandidates(spark, dir)
      .select(col("a_id").as("keep_id"), col("b_id").as("dup_id"))
      .join(e.select(col("vec_id").as("keep_id"), col("embedding").as("va"),
        col("nsq").as("na")), "keep_id")
      .join(e.select(col("vec_id").as("dup_id"), col("embedding").as("vb"),
        col("nsq").as("nb")), "dup_id")
      .select(col("keep_id"), col("dup_id"),
        r6(inner_product(col("va"), col("vb")) / sqrt(col("na") * col("nb"))).as("sim"))
  }
  /** [[embeddingScoredCandidates]] as the memoized staged artifact the
    * three consumers ([[dedupEmbedding]], [[dedupSemantic]],
    * [[graft.ops.Pipeline]]'s e2e composition) share per (session, dir)
    * — see [[pairFrameShared]]. [[graft.Audits]] keeps calling the raw
    * builder so the post-sweep candidate telemetry still measures a
    * fresh frame. */
  private[graft] def embeddingScoredShared(
      spark: SparkSession, dir: String): DataFrame =
    pairFrameShared(spark, dir, "embedding") {
      persistRound(embeddingScoredCandidates(spark, dir), eager = false)
    }
  def dedupEmbedding: Q = (spark, dir) => {
    val w = Window.partitionBy("dup_id").orderBy("keep_id")
    embeddingScoredShared(spark, dir)
      .filter(col("sim") >= 0.4)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("dup_id"), col("keep_id"), col("sim"))
      .orderBy("dup_id")
  }
  val dedupEmbeddingSql: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ${VectorSearch.lshBandsAdaptiveSql("e", "vec_id")},
    ${VectorSearch.lshCandSql("vec_id", "keep_id", "dup_id")},
    p AS (SELECT keep_id, dup_id,
        round(list_inner_product(a.v, b.v)
          / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)), 6) AS sim
      FROM cand JOIN e a ON a.vec_id = keep_id JOIN e b ON b.vec_id = dup_id)
    SELECT dup_id, keep_id, sim FROM p
    WHERE sim >= 0.4
    QUALIFY row_number() OVER (PARTITION BY dup_id ORDER BY keep_id) = 1
    ORDER BY dup_id"""

  // ── dedup_semantic — SemDeDup: embedding-cluster survivorship ────────
  /** Keep/drop verdict per cluster member — the shared core of
    * [[dedupSemantic]], factored so the spec can drive it with a
    * PLANTED pair family. `pairs` is a verified undirected pair list
    * (a_id, b_id); `scores` is (doc_id, score). Components come from
    * the same large-star/small-star machinery as [[dedupClusters]];
    * within each component exactly one member survives: best score,
    * ties to the smaller id. */
  private[graft] def semanticSurvivors(
      pairs: DataFrame, scores: DataFrame): DataFrame = {
    val (labels, _) = connectedComponentsWithRounds(pairs)
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("score").desc, col("doc_id"))
    labels.join(scores, "doc_id")
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("score"),
        when(col("rk") === 1, 1L).otherwise(0L).as("survives"))
      .orderBy("doc_id")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): cluster documents whose EMBEDDINGS are
    * near-duplicates and keep one representative per cluster. This is
    * the operator a 100 TB curation run actually executes on
    * embeddings — [[dedupEmbedding]] emits raw verified pairs, and
    * before r13 keep/drop decisions existed only for minhash clusters
    * ([[dedupSurvivor]]). Composes three proven parts end-to-end:
    * [[embeddingScoredCandidates]] (n-adaptive LSH banding — never
    * all-pairs — with exact-cosine verify at the 0.4 floor) →
    * [[connectedComponentsWithRounds]] (large-star/small-star,
    * O(log² n) rounds) → the [[dedupSurvivor]] keep-best rule (quality
    * score desc, id asc; SemDeDup's "keep one per semantic cluster",
    * with the survivor chosen by text quality instead of the paper's
    * arbitrary representative — the rule a curation pipeline wants).
    * Emits every cluster member with its verdict: (doc_id, cluster_id,
    * score, survives). vec_id ≡ doc_id in the test tables (1:1
    * embedding per document).
    *
    * Scale shape: candidate volume is the audited adaptive-LSH frame
    * (bounded excess per row), CC shuffles only the tiny verified pair
    * graph, and the survivor rank is one window over cluster members —
    * corpus-sized data is touched exactly once (the banding scan).
    * Oracle: DuckDB replays the banding + verify, then recursive
    * reachability (the [[dedupClusters]] technique) + the same
    * window. */
  def dedupSemantic: Q = (spark, dir) => {
    val pairs = embeddingScoredShared(spark, dir)
      .filter(col("sim") >= 0.4)
      .select(col("keep_id").as("a_id"), col("dup_id").as("b_id"))
    val scores = TextAnalysis.qualityScoresFrame(spark, dir)
      .select(col("doc_id"), col("score"))
    semanticSurvivors(pairs, scores)
  }
  val dedupSemanticSql: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ${VectorSearch.lshBandsAdaptiveSql("e", "vec_id")},
    ${VectorSearch.lshCandSql("vec_id", "keep_id", "dup_id")},
    p AS (SELECT keep_id, dup_id,
        round(list_inner_product(a.v, b.v)
          / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)), 6) AS sim
      FROM cand JOIN e a ON a.vec_id = keep_id JOIN e b ON b.vec_id = dup_id),
    vpairs AS (SELECT keep_id AS a_id, dup_id AS b_id FROM p WHERE sim >= 0.4),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM vpairs
      UNION SELECT b_id, a_id FROM vpairs
      UNION SELECT a_id, a_id FROM vpairs
      UNION SELECT b_id, b_id FROM vpairs),
    reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e2.dst FROM r JOIN edges e2 ON r.dst = e2.src)
      SELECT * FROM r),
    lbl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
    sc AS (${TextAnalysis.qualityScoresSql})
    SELECT l.doc_id, l.cluster_id, s.score,
      CAST(CASE WHEN row_number() OVER (PARTITION BY l.cluster_id
                  ORDER BY s.score DESC, l.doc_id) = 1
           THEN 1 ELSE 0 END AS BIGINT) AS survives
    FROM lbl l JOIN sc s ON s.doc_id = l.doc_id
    ORDER BY l.doc_id"""

  // ── dedup_containment — exact prefix-filtered containment join ───────
  /** Asymmetric containment near-dup (|A∩B| / min(|A|,|B|) ≥ 0.9 over
    * word 3-shingle sets): catches quote/subset duplication that
    * symmetric Jaccard misses when sizes differ. Candidate generation is
    * the AllPairs/PPJoin prefix filter (Bayardo et al., WWW'07), EXACT
    * by pigeonhole: order every doc's shingles by global rarity (df,
    * then hash); if a pair has containment ≥ t on its smaller side A,
    * the shared shingles number ≥ ⌈t·|A|⌉, so at least one of A's
    * ⌊(1−t)·|A|⌋+1 rarest shingles (its "prefix") must occur in B.
    * Join = A-prefixes (rare shingles only) against the full inverted
    * index, then exact sorted-set-intersection verify — never an O(n²)
    * all-pairs, and because the filter is lossless the oracle is simply
    * the naive exact containment join. WORD shingles, not char 3-grams:
    * the shingle space grows with content, so document prefixes are
    * genuinely rare (char 3-grams live in a ~40³ space where every
    * "rare" gram still hits hundreds of docs — measured 500× more
    * candidate emissions at sf0.1). Integer per-mille output. */
  final val ContThreshPm = 900L
  final val ContMinGrams = 10
  def dedupContainment: Q = (spark, dir) => {
    graft.functions.register(spark)
    containmentPairs(Tables.documents(spark, dir).select("doc_id", "text"))
  }
  /** The containment join over any (doc_id, text) frame — split out so
    * the spec can drive it with a synthetic subset-document corpus (the
    * test tables' near-dups are whole-doc perturbations, which exercise
    * the symmetric regime only). */
  private[graft] def containmentPairs(docsRaw: DataFrame): DataFrame = {
    val hx = wordShingleHashes(docsRaw)
    val gp = persistRound(hx.groupBy("doc_id")
      .agg(array_sort(collect_set(col("h"))).as("grams"))
      .filter(size(col("grams")) >= ContMinGrams))
    val inv = gp.select(col("doc_id"), explode(col("grams")).as("h"))
    val dfreq = inv.groupBy("h").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy("df", "h")
    val probe = inv.join(dfreq, "h")
      .withColumn("rn", row_number().over(byRarity))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rn") <= idiv(col("n") * (1000L - ContThreshPm), 1000L) + 1L)
      .select(col("h"), col("doc_id").as("pid"))
    val cand = probe.join(inv.select(col("h"), col("doc_id").as("iid")), "h")
      .filter(col("pid") =!= col("iid"))
      .select(least(col("pid"), col("iid")).as("lo_id"),
        greatest(col("pid"), col("iid")).as("hi_id"))
      .distinct()
    cand
      .join(gp.select(col("doc_id").as("lo_id"), col("grams").as("ga")), "lo_id")
      .join(gp.select(col("doc_id").as("hi_id"), col("grams").as("gb")), "hi_id")
      .select(col("lo_id"), col("hi_id"),
        idiv(sorted_intersect_count(col("ga"), col("gb")).cast("long") * 1000L,
          least(size(col("ga")), size(col("gb"))).cast("long")).as("cont_pm"))
      .filter(col("cont_pm") >= ContThreshPm)
      .orderBy("lo_id", "hi_id")
  }
  /** Oracle is the NAIVE exact containment join — legitimate because the
    * prefix filter is lossless, so the two computations must agree. */
  val dedupContainmentSql: String = shinglePrefixCtes + s""",
    hx AS (SELECT DISTINCT doc_id, ${polySql("s")} AS h FROM shx),
    g AS (SELECT doc_id, list(h) AS grams FROM hx GROUP BY 1
          HAVING COUNT(*) >= $ContMinGrams),
    p AS (SELECT a.doc_id AS lo_id, b.doc_id AS hi_id,
        CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter,
        CAST(least(len(a.grams), len(b.grams)) AS BIGINT) AS mn
      FROM g a JOIN g b ON a.doc_id < b.doc_id)
    SELECT lo_id, hi_id, CAST((inter * 1000) // mn AS BIGINT) AS cont_pm
    FROM p WHERE (inter * 1000) // mn >= $ContThreshPm
    ORDER BY lo_id, hi_id"""

  val queries: Map[String, Q] = Map(
    "dedup_containment" -> dedupContainment,
    "dedup_exact" -> dedupExact,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_simhash" -> dedupSimhash,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_clusters" -> dedupClusters,
    "dedup_survivor" -> dedupSurvivor,
    "dedup_semantic" -> dedupSemantic)

  val oracles: Map[String, String] = Map(
    "dedup_containment" -> dedupContainmentSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_survivor" -> dedupSurvivorSql,
    "dedup_semantic" -> dedupSemanticSql)
}
