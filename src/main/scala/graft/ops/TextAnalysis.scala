package graft.ops

import graft.Tables
import graft.functions._
import graft.util.Det._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Text analysis suite for the LLM-training-data pipeline (documents
  * table): language ID, quality scoring, token counting, fingerprinting.
  *
  * All map-side (per-document) computations followed by at most one
  * aggregate — embarrassingly parallel at 100 TB. Ratios are exact
  * integer-count divisions in double (bit-identical in DuckDB), rounded
  * to 6 dp; composite scores are integerized floor(x·1000 + 0.5).
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  private def toksCol: Column = graft.util.TextUtil.toksCol
  private val toksSql = graft.util.TextUtil.toksSql

  /** Stopword profiles for the n-gram/stopword language-ID heuristic. */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "ein", "eine", "zu"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en", "un", "una", "es"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"))

  // ── text_lang_id — stopword-profile language ID ──────────────────────
  /** Per-doc stopword hit counts per profile; prediction = max hits with
    * lexicographic tie-break (via min over (-hits, lang) structs). One
    * explode + one aggregate — map-side combined, no dimension joins. */
  def textLangId: Q = (spark, dir) => {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toksCol).as("tok"))
    val hits = tok.groupBy("doc_id").agg(
      sum(when(col("tok").isin(StopwordProfiles.head._2: _*), 1L).otherwise(0L))
        .as(s"${StopwordProfiles.head._1}_hits"),
      StopwordProfiles.tail.map { case (lang, words) =>
        sum(when(col("tok").isin(words: _*), 1L).otherwise(0L)).as(s"${lang}_hits")
      }: _*)
    val pred = array_min(array(StopwordProfiles.map { case (lang, _) =>
      struct((col(s"${lang}_hits") * -1).as("neg"), lit(lang).as("lang"))
    }: _*)).getField("lang")
    hits.select(col("doc_id") +:
      StopwordProfiles.map { case (lang, _) => col(s"${lang}_hits") } :+
      pred.as("pred_lang"): _*)
      .orderBy("doc_id")
  }
  val textLangIdSql: String = {
    val hitCols = StopwordProfiles.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"CAST(SUM(CASE WHEN tok IN ($set) THEN 1 ELSE 0 END) AS BIGINT) AS ${lang}_hits"
    }.mkString(",\n      ")
    val structs = StopwordProfiles.map { case (lang, _) =>
      s"{'neg': -${lang}_hits, 'lang': '$lang'}"
    }.mkString(", ")
    s"""
    WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
    hits AS (SELECT doc_id,
      $hitCols
    FROM tok GROUP BY doc_id)
    SELECT doc_id, de_hits, en_hits, es_hits, fr_hits,
      (list_sort([$structs]))[1].lang AS pred_lang
    FROM hits ORDER BY doc_id"""
  }

  // ── text_quality — length/uniqueness/alpha-ratio composite ───────────
  /** The ONE definition of the quality-ratio/score formulas (shared with
    * [[Pipeline.pipelineCurate]] so the composed pipeline can't drift
    * from the standalone operator). */
  private[ops] def uniqRatio(toks: Column): Column =
    r6(size(array_distinct(toks)).cast("double") / size(toks))
  private[ops] def alphaRatio(text: Column): Column =
    r6(length(regexp_replace(lower(text), "[^a-z]", "")).cast("double") / length(text))
  private[ops] def qualityScore(uniq: Column, alpha: Column, nTok: Column): Column =
    floor((uniq * 0.4 + alpha * 0.3
      + least(lit(1.0), nTok / 100.0) * 0.3) * 1000 + 0.5).cast("long")

  /** (doc_id, score) integer quality scores — the reusable form
    * [[graft.ops.Dedup.dedupSurvivor]] joins against. */
  private[ops] def qualityScoresFrame(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), toksCol.as("toks"))
    base.filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        qualityScore(uniqRatio(col("toks")), alphaRatio(col("text")),
          size(col("toks"))).as("score"))
  }
  /** DuckDB subquery mirroring [[qualityScoresFrame]]. */
  private[ops] val qualityScoresSql: String = s"""
    SELECT doc_id,
      CAST(floor((round(len(list_distinct(toks))::DOUBLE / len(toks), 6) * 0.4
        + round(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE / len(text), 6) * 0.3
        + least(1.0, len(toks) / 100.0) * 0.3) * 1000 + 0.5) AS BIGINT) AS score
    FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
    WHERE len(toks) > 0"""

  def textQuality: Q = (spark, dir) => {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"),
      toksCol.as("toks"))
    val nTok = size(col("toks"))
    base
      .filter(nTok > 0)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nTok.cast("long").as("n_tok"),
        uniqRatio(col("toks")).as("uniq_ratio"),
        alphaRatio(col("text")).as("alpha_ratio"))
      .withColumn("score",
        qualityScore(col("uniq_ratio"), col("alpha_ratio"), col("n_tok")))
      .orderBy("doc_id")
  }
  val textQualitySql = s"""
    WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
    q AS (SELECT doc_id,
        CAST(len(text) AS BIGINT) AS n_chars,
        CAST(len(toks) AS BIGINT) AS n_tok,
        round(len(list_distinct(toks))::DOUBLE / len(toks), 6) AS uniq_ratio,
        round(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE / len(text), 6) AS alpha_ratio
      FROM base WHERE len(toks) > 0)
    SELECT doc_id, n_chars, n_tok, uniq_ratio, alpha_ratio,
      CAST(floor((uniq_ratio * 0.4 + alpha_ratio * 0.3
        + least(1.0, n_tok / 100.0) * 0.3) * 1000 + 0.5) AS BIGINT) AS score
    FROM q ORDER BY doc_id"""

  // ── text_tokens — whitespace + BPE-ish regex token counts per source ─
  def textTokens: Q = (spark, dir) => {
    val ws = size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
    val bpe = size(regexp_extract_all(lower(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
    Tables.documents(spark, dir)
      .select(col("source"), ws.as("ws"), bpe.as("bpe"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("ws").cast("long").as("sum_ws_tok"),
        sum("bpe").cast("long").as("sum_bpe_tok"))
      .withColumn("avg_bpe_tok", floor(col("sum_bpe_tok") / col("n_docs")).cast("long"))
      .orderBy("source")
  }
  val textTokensSql = raw"""
    WITH t AS (SELECT source,
        len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS ws,
        len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(ws) AS BIGINT) AS sum_ws_tok,
      CAST(SUM(bpe) AS BIGINT) AS sum_bpe_tok,
      CAST(floor(CAST(SUM(bpe) AS BIGINT) / COUNT(*)) AS BIGINT) AS avg_bpe_tok
    FROM t GROUP BY source ORDER BY source"""

  // ── text_fingerprint — rolling-hash winnow-min + distinct windows ────
  /** 8-char window poly_hash fingerprint: min hash (winnowing anchor),
    * window count, distinct count. Explode + aggregate; the poly_hash is
    * the codegen'd [[graft.functions.PolyHash]] on the hot path. */
  def textFingerprint: Q = (spark, dir) => {
    Tables.documents(spark, dir)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"), explode(sequence(lit(1), length(col("t")) - 7)).as("i"), col("t"))
      .select(col("doc_id"), poly_hash_cp(col("t").substr(col("i"), lit(8))).as("h"))
      .groupBy("doc_id")
      .agg(min("h").as("min_hash"),
        count(lit(1)).as("n_windows"),
        countDistinct(col("h")).as("n_distinct"))
      .orderBy("doc_id")
  }
  val textFingerprintSql = s"""
    WITH t AS (SELECT doc_id, lower(text) AS t FROM documents WHERE len(text) >= 8),
    w AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM t),
    h AS (SELECT doc_id,
        list_reduce(list_transform(range(1, 9), j -> CAST(unicode(substr(t, i, 8)[j]) AS BIGINT)),
                    (a, b) -> (a*31 + b) % 1000000007) AS h
      FROM w)
    SELECT doc_id, MIN(h) AS min_hash, COUNT(*) AS n_windows,
      COUNT(DISTINCT h) AS n_distinct
    FROM h GROUP BY doc_id ORDER BY doc_id"""

  // ── text_kmv_sketch — deterministic distinct-count sketch per source ─
  /** KMV (k-minimum-values) cardinality sketch over token hashes:
    * keep the k smallest distinct poly_hash values per source; estimate
    * distinct = (k−1)·M / h_k. Unlike HLL the sketch state is a pure
    * order-statistic — merge- and partition-order independent, so the
    * estimate is bit-deterministic and the DuckDB oracle reproduces it
    * exactly. Sketch state is k longs per group regardless of corpus
    * size; the exact distinct count is computed alongside for the
    * error check. */
  final val KmvK = 64
  def textKmvSketch: Q = (spark, dir) => {
    val hx = Tables.documents(spark, dir)
      .select(col("source"), explode(toksCol).as("tok"))
      .select(col("source"), poly_hash(col("tok")).as("h"))
      .distinct()
    // kth_min is a bounded-heap TypedImperativeAggregate: state is k
    // longs per group with map-side combine — the actual sketch, not a
    // full per-group sort.
    hx.groupBy("source")
      .agg(count(lit(1)).as("n_exact"), kth_min(col("h"), KmvK).as("hk"))
      .select(col("source"), col("n_exact"),
        r6(when(col("hk").isNull, col("n_exact").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * graft.util.TextUtil.HashMod.toDouble / col("hk").cast("double")))
          .as("kmv_estimate"))
      .orderBy("source")
  }
  val textKmvSketchSql = s"""
    WITH hx AS (
      SELECT DISTINCT source, ${graft.util.TextUtil.polySql("tok")} AS h
      FROM (SELECT source, unnest($toksSql) AS tok FROM documents)),
    ranked AS (
      SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hx),
    exact AS (SELECT source, COUNT(*) AS n_exact FROM hx GROUP BY source),
    kth AS (SELECT source, h AS hk FROM ranked WHERE rn = $KmvK)
    SELECT e.source, n_exact,
      round(CASE WHEN hk IS NULL THEN n_exact::DOUBLE
                 ELSE ${(KmvK - 1).toDouble} * ${graft.util.TextUtil.HashMod.toDouble} / hk::DOUBLE END, 6) AS kmv_estimate
    FROM exact e LEFT JOIN kth USING (source) ORDER BY source"""

  // ── text_hll_sketch — deterministic HyperLogLog registers per source ─
  /** HyperLogLog cardinality sketch built from scratch so it is
    * bit-deterministic across engines (Spark's own `approx_count_distinct`
    * is HLL++ with an engine-private hash — useful, but not
    * oracle-checkable). Token hash → Fibonacci-spread (the raw polynomial
    * hash has no avalanche) → 5-bit bucket + rank-of-first-bit rho;
    * register = MAX(rho) per (source, bucket). MAX is algebraic and
    * duplicate-insensitive — no distinct pass anywhere, map-side combined,
    * and two sketches merge by elementwise max: the O(m)-state mergeable
    * shape that lets 1000 executors sketch 100 TB and combine 32 longs
    * per source. The estimate αm²/Σ2^−rho is cleared of floats: Σ2^−rho
    * scaled by 2^26 is an exact BIGINT, α=697/1000 applied as one integer
    * division. KMV (order statistic, exact-k state) and HLL (max
    * registers, fixed-m state) are the two classic mergeable-sketch
    * families — both now spec'd deterministic. */
  final val HllM = 32           // registers per source (5-bit bucket)
  final val HllW = 26           // rho ∈ [1, 26]: hash div 32 < 2^25
  final val HllSpread = 2654435761L // 2^32/φ, odd — h < 1e9+7 keeps h·spread < 2^62
  private val HllAlphaNum = 697L * (1L << 36) // α·m²·2^26 with α = 697/1000
  def textHllSketch: Q = (spark, dir) => {
    val m = graft.util.TextUtil.HashMod
    // ONE pipeline, no branch re-computation: hash → (bucket, rho) in a
    // single projection, then one (source, bucket) aggregate that carries
    // BOTH the register (max rho) and the per-bucket distinct count —
    // buckets partition the hash space, so the per-source exact distinct
    // is the SUM of per-bucket distincts and no second corpus pass or
    // join is ever needed. (A first cut computed registers and
    // countDistinct as separate branches of an un-materialized frame:
    // two explodes + a join, 8× slower at sf0.1.)
    Tables.documents(spark, dir)
      .select(col("source"), explode(toksCol).as("tok"))
      .select(col("source"),
        ((poly_hash(col("tok")) * HllSpread) % m).as("hs"))
      .select(col("source"), col("hs"), (col("hs") % HllM).as("bucket"),
        idiv(col("hs"), HllM.toLong).as("w"))
      .select(col("source"), col("hs"), col("bucket"),
        when(col("w") === 0L, lit(HllW))
          .otherwise(lit(HllW) - length(bin(col("w")))).cast("long").as("rho"))
      .groupBy("source", "bucket")
      .agg(countDistinct("hs").as("nd"), max("rho").as("r"))
      .groupBy("source")
      .agg(sum("nd").as("n_exact"), count(lit(1)).as("n_present"),
        sum(shl(lit(1), lit(HllW) - col("r"))).as("nz"))
      .select(col("source"), col("n_exact"), col("n_present"),
        (col("nz") + (lit(HllM.toLong) - col("n_present")) * (1L << HllW))
          .as("reg_sum"))
      .withColumn("hll_est", idiv(lit(HllAlphaNum), lit(1000) * col("reg_sum")))
      .orderBy("source")
  }
  val textHllSketchSql = s"""
    WITH hx AS (
      SELECT source,
        (${graft.util.TextUtil.polySql("tok")} * $HllSpread) % ${graft.util.TextUtil.HashMod} AS hs
      FROM (SELECT source, unnest($toksSql) AS tok FROM documents)),
    regs AS (SELECT source, hs % $HllM AS bucket,
        MAX(CASE WHEN hs // $HllM = 0 THEN $HllW
             ELSE $HllW - length(bin(hs // $HllM)) END) AS r
      FROM hx GROUP BY 1, 2),
    agg AS (SELECT source, COUNT(*) AS n_present,
        CAST(SUM(1 << ($HllW - r)) AS BIGINT) AS nz
      FROM regs GROUP BY 1),
    exact AS (SELECT source, CAST(COUNT(DISTINCT hs) AS BIGINT) AS n_exact
      FROM hx GROUP BY 1)
    SELECT source, n_exact, n_present,
      nz + ($HllM - n_present) * ${1L << HllW} AS reg_sum,
      $HllAlphaNum // (1000 * (nz + ($HllM - n_present) * ${1L << HllW})) AS hll_est
    FROM exact JOIN agg USING (source) ORDER BY source"""

  // ── text_top_terms — term-frequency leaders per source ───────────────
  /** Top-5 tokens per source by count (all-integer ranking: count desc,
    * token asc — no idf logs, so no float-parity risk). One shuffle on
    * (source, tok) with map-side combine, then a window over the small
    * per-source aggregate. */
  def textTopTerms: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(toksCol).as("tok"))
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("source").orderBy(col("n").desc, col("tok"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy("source", "rn")
  }
  val textTopTermsSql = s"""
    WITH c AS (
      SELECT source, tok, COUNT(*) AS n
      FROM (SELECT source, unnest($toksSql) AS tok FROM documents)
      GROUP BY 1, 2)
    SELECT source, tok, n,
      row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rn
    FROM c QUALIFY rn <= 5 ORDER BY source, rn"""

  // ── text_collocations — integer-lift association mining (PMI rank) ───
  /** Collocation extraction: the top token pairs by LIFT — the
    * count-ratio n·c(a,b) / (c(a)·c(b)) that PMI is the log of. Ranking
    * on the log is rank-equivalent to ranking on the ratio, so no log
    * ever crosses the engine boundary; the ratio itself is computed in
    * DOUBLE with a pinned op order (cab·n·10⁶ then ÷ c1·c2 — the same
    * IEEE sequence in DuckDB, like every distance kernel here) because
    * the integer product cab·n·10⁶ overflows BIGINT on large corpora
    * (n ~ 10¹³ at the 100 TB posture) — Spark would wrap silently while
    * the oracle errors. The cut orders on the RAW double (pair
    * tie-break), output rounded to 6 dp. Shapes:
    * the wordcount aggregates (map-side combined), a min-support filter
    * BEFORE the unigram joins (cuts the candidate set to frequent
    * pairs), two keyed joins onto the vocab-sized unigram table, and a
    * TakeOrderedAndProject top-20. At 100 TB: corpus → two wordcount
    * shuffles; everything after operates on vocabulary-sized frames. */
  /** Documents with the token array materialized (Generate barrier) and
    * length-≥-2 filtered — the ONE bigram-op preamble shared by
    * [[textBigramLm]] and [[textCollocations]] so the tokenize/filter
    * fragment can't drift between copies. */
  private def bigramDocs(spark: SparkSession, dir: String, extra: String*): DataFrame =
    materializedColumn(
        Tables.documents(spark, dir).select((extra :+ "text").map(col): _*),
        "toks", toksCol)
      .select((extra :+ "toks").map(col): _*)
      .filter(size(col("toks")) >= 2)

  final val CollocMinCount = 5L
  final val CollocScale = 1000000L
  def textCollocations: Q = (spark, dir) => {
    val docs = bigramDocs(spark, dir)
    val uni = docs.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val n = uni.agg(sum("cw").as("n"))
    val bg = docs.select(explode(transform(
        sequence(lit(0), size(col("toks")) - 2),
        i => struct(col("toks")(i).as("w1"), col("toks")(i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= CollocMinCount)
    bg.join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("lift_raw",
        (col("cab").cast("double") * col("n").cast("double") *
          lit(CollocScale.toDouble)) /
        (col("c1").cast("double") * col("c2").cast("double")))
      .orderBy(col("lift_raw").desc, col("w1"), col("w2"))
      .limit(20)
      .select(col("w1"), col("w2"), col("cab"), col("c1"), col("c2"),
        graft.util.Det.r6(col("lift_raw")).as("lift_micro"))
  }
  val textCollocationsSql = s"""
    WITH t AS (SELECT $toksSql AS toks FROM documents),
    tt AS (SELECT toks FROM t WHERE len(toks) >= 2),
    cu AS (SELECT w, COUNT(*) AS cw
           FROM (SELECT unnest(toks) AS w FROM tt) GROUP BY 1),
    nn AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM cu),
    bg AS (SELECT unnest(toks[1:len(toks)-1]) AS w1,
                  unnest(toks[2:len(toks)]) AS w2 FROM tt),
    cb AS (SELECT w1, w2, COUNT(*) AS cab FROM bg GROUP BY 1, 2
           HAVING COUNT(*) >= $CollocMinCount),
    sc AS (SELECT w1, w2, cab, cu1.cw AS c1, cu2.cw AS c2,
        (CAST(cab AS DOUBLE) * CAST(nn.n AS DOUBLE) * ${CollocScale}.0)
          / (CAST(cu1.cw AS DOUBLE) * CAST(cu2.cw AS DOUBLE)) AS lift_raw
      FROM cb JOIN cu cu1 ON cu1.w = w1 JOIN cu cu2 ON cu2.w = w2, nn
      ORDER BY lift_raw DESC, w1, w2 LIMIT 20)
    SELECT w1, w2, cab, c1, c2, round(lift_raw, 6) AS lift_micro FROM sc"""

  // ── text_bigram_lm — n-gram LM count table (top bigrams per source) ──
  /** The n-gram language-model preparation step: token-bigram counts per
    * source, top-5 by count (all-integer ranking: count desc, bigram asc
    * — no smoothing floats in the comparable output; a real LM would
    * consume the full count table, the top-5 is the driver-checkable
    * summary). Bigrams are a map-side transform over the materialized
    * token array (Generate barrier — one tokenization per row however
    * many lambda references), then ONE shuffle on (source, bigram) with
    * map-side combine; the window ranks the already-aggregated counts.
    * At 100 TB this is the wordcount shape — uniform keys, no skew. */
  def textBigramLm: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = bigramDocs(spark, dir, "source")
    val bg = docs.select(col("source"), explode(transform(
      sequence(lit(0), size(col("toks")) - 2),
      i => concat(col("toks")(i), lit(" "), col("toks")(i + 1)))).as("bigram"))
    val counts = bg.groupBy("source", "bigram").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("source").orderBy(col("n").desc, col("bigram"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy("source", "rn")
  }
  val textBigramLmSql = s"""
    WITH t AS (SELECT source, $toksSql AS toks FROM documents),
    tt AS (SELECT source, toks FROM t WHERE len(toks) >= 2),
    bg AS (SELECT source, unnest(list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM tt),
    c AS (SELECT source, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2)
    SELECT source, bigram, n,
      row_number() OVER (PARTITION BY source ORDER BY n DESC, bigram) AS rn
    FROM c QUALIFY rn <= 5 ORDER BY source, rn"""

  // ── text_train_split — deterministic train/val/test assignment ───────
  /** Hash-based split assignment (80/10/10): split(doc) is a pure
    * function of doc_id, so the same document lands in the same split
    * on every run, any cluster size, and any data order — the property
    * that makes training-data splits reproducible. Map-only + one tiny
    * aggregate. */
  // ── text_lm_score — corpus-LM familiarity (fluency-proxy quality) ────
  /** Per-document fluency proxy under the corpus's own bigram counts —
    * the RETRIEVED-quality signal pipelines use when no external LM is
    * available: a document whose bigrams are corpus-frequent reads like
    * the corpus; one full of rare bigrams is an outlier (gibberish,
    * wrong language, OCR noise). Integer-exact: per-doc sum and min of
    * corpus bigram counts, plus the fixed-point mean `sum·1000 div n`.
    * Scale: corpus bigram counts are the wordcount shape (map-side
    * combined); the count-back join is keyed on the SAME bigram the
    * aggregate shuffled on (exchange reuse, same pattern as
    * [[textBoilerplate]]'s df join — never a broadcast, the bigram
    * vocabulary grows with the corpus); the per-doc aggregate is one
    * doc_id shuffle. Every bigram occurs at least once (in its own
    * doc), so the join never drops a row. */
  def textLmScore: Q = (spark, dir) => {
    val docs = bigramDocs(spark, dir, "doc_id")
    val bg = graft.util.Persist.stage(
      docs.select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("toks")) - 2),
        i => concat(col("toks")(i), lit(" "), col("toks")(i + 1)))).as("bigram")),
      eager = false)
    val cb = bg.groupBy("bigram").agg(count(lit(1)).as("cab"))
    bg.join(cb, "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("cab").as("sum_freq"),
        min("cab").as("min_freq"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_freq"), col("min_freq"),
        idiv(col("sum_freq") * lit(1000L), col("n_bigrams")).as("lm_milli"))
      .orderBy("doc_id")
  }
  val textLmScoreSql: String = s"""
    WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
    b2 AS (SELECT doc_id, w1 || ' ' || w2 AS bigram FROM (
      SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2 FROM tt)),
    cb AS (SELECT bigram, COUNT(*) AS cab FROM b2 GROUP BY 1)
    SELECT b2.doc_id, COUNT(*) AS n_bigrams,
      CAST(SUM(cb.cab) AS BIGINT) AS sum_freq,
      MIN(cb.cab) AS min_freq,
      CAST(SUM(cb.cab) * 1000 // COUNT(*) AS BIGINT) AS lm_milli
    FROM b2 JOIN cb USING (bigram)
    GROUP BY 1 ORDER BY doc_id"""

  def textTrainSplit: Q = (spark, dir) => {
    // doc_id is reduced mod 1e9+7 BEFORE multiplying so the product
    // stays < 2^63 for any conceivable id (no overflow, no oracle error).
    val bucket = (col("doc_id") % 1000000007L * 2654435761L % 1000000007L) % 10
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("split")
  }
  val textTrainSplitSql = """
    WITH s AS (SELECT doc_id, n_chars,
        CASE WHEN (doc_id % 1000000007 * 2654435761 % 1000000007) % 10 < 8 THEN 'train'
             WHEN (doc_id % 1000000007 * 2654435761 % 1000000007) % 10 < 9 THEN 'val'
             ELSE 'test' END AS split
      FROM documents)
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM s GROUP BY split ORDER BY split"""

  // ── text_chunk — overlapping-window chunking (context-window prep) ───
  /** Fixed-size overlapping character windows (size 256, stride 192 —
    * 64-char overlap), the standard context-window/RAG chunking shape.
    * Emits (doc_id, chunk_idx, chunk_len, chunk_hash) with the chunk
    * identified by its codepoint polyhash — compact, hashable output;
    * the text itself stays in the lake. Map-only explode: scales as a
    * pure scan at 100 TB, no shuffle. */
  final val ChunkSize = 256
  final val ChunkStride = 192
  def textChunk: Q = (spark, dir) => {
    graft.functions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(0L), idiv(length(col("text")) - 1, ChunkStride.toLong)))
          .as("chunk_idx"),
        col("text"))
      .select(col("doc_id"), col("chunk_idx"),
        col("text").substr((col("chunk_idx") * ChunkStride + 1).cast("int"),
          lit(ChunkSize)).as("ck"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("ck")).cast("long").as("chunk_len"),
        poly_hash_cp(col("ck")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }
  val textChunkSql: String = s"""
    WITH c AS (
      SELECT doc_id, unnest(range(0, (len(text)-1)//$ChunkStride + 1)) AS chunk_idx, text
      FROM documents WHERE len(text) >= 1),
    k AS (SELECT doc_id, chunk_idx,
            substr(text, CAST(chunk_idx * $ChunkStride + 1 AS BIGINT), $ChunkSize) AS ck
          FROM c)
    SELECT doc_id, chunk_idx, CAST(len(ck) AS BIGINT) AS chunk_len,
      ${graft.util.TextUtil.polySql("ck")} AS chunk_hash
    FROM k ORDER BY doc_id, chunk_idx"""

  // ── text_decontaminate — eval-set contamination scan ─────────────────
  /** Benchmark decontamination, the training-pipeline step that drops
    * corpus documents overlapping an evaluation set: every doc emits its
    * 8-token shingle hashes; docs sharing any shingle with the probe set
    * (here doc_id % 20 == 0, standing in for an eval benchmark) are
    * flagged with hit counts and overlap ratio. Scale: the probe set is
    * benchmark-sized → broadcast; the corpus side is one map-only
    * shingle pass + one distinct + one aggregate — no corpus self-join.
    */
  final val DecontShingle = 8
  /** n-token shingle strings of a column named `toks` (the ONE shingle
    * definition, shared with [[Pipeline.pipelineCurate]] and
    * [[textBoilerplate]]). */
  private[ops] def shinglesOf(n: Int): Column = transform(
    sequence(lit(0), size(col("toks")) - n),
    i => array_join(slice(col("toks"), i + 1, lit(n)), " "))
  private[graft] def decontShingles: Column = shinglesOf(DecontShingle)
  /** DuckDB fragment mirroring [[shinglesOf]] over a `toks` column. */
  private[ops] def shinglesSql(n: Int): String =
    s"list_transform(range(1, len(toks)-${n - 2}), i -> array_to_string(toks[i:i+${n - 1}], ' '))"

  // ── text_corpus_overlap — θ-sketch overlap estimate, train vs test ──
  /** Sketch-algebra contamination ESTIMATE between the train and test
    * splits — the 100 TB complement of [[textDecontaminate]]'s exact
    * broadcast probe: when the held-out set is itself huge, you first
    * ask "how much do these corpora overlap AT ALL" from two bounded
    * sketches before paying for exact per-document attribution. The
    * KMV/θ-sketch set algebra (Beyer et al. SIGMOD'07; the Theta
    * framework of Dasgupta et al.): per split, the [[OverlapK]]
    * smallest DISTINCT 8-token-shingle hashes ([[graft.functions.KthMin]]
    * — bounded-heap state, map-side combined); θ = min of the two
    * k-th order statistics; every hash below θ is an EXACT member
    * sample of its split (everything smaller than the k-th smallest is
    * in the sketch), so intersection/union counts below θ are exact
    * set operations on the samples and estimate Jaccard and
    * \|A∩B\| (· M/θ inclusion scaling) without ever comparing the
    * corpora directly. All integer: counts are BIGINT, ratios are
    * floor-div ppm (`div` ≡ DuckDB `//` on non-negatives), the scale
    * factor M/θ is one BIGINT multiply-divide. Sketches of two 50 TB
    * slices are 2·K longs — the merge is free; the only corpus-scale
    * work is the shingle distinct, the same pass every dedup op pays.
    * Splits reuse [[textTrainSplit]]'s avalanche bucket (train = 0-7,
    * test = 9; the val bucket is excluded). */
  /** 4096 (not the KMV default 64): the planted corpora's true
    * cross-split shingle Jaccard is ~0.1-1% (measured exactly: 16 of
    * 20151 at sf0.01, 2093 of 203k at sf0.1), and a k-sample resolves
    * J only down to ~1/\|sample\| — K=256 read 0 at both SFs. 4096
    * longs is still a trivially bounded, mergeable sketch. */
  final val OverlapK = 4096
  def textCorpusOverlap: Q = (spark, dir) => {
    graft.functions.register(spark)
    val bucket = (col("doc_id") % 1000000007L * 2654435761L % 1000000007L) % 10
    val docs = materializedColumn(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        "toks", toksCol)
      .select(col("doc_id"), col("toks"))
      .filter(size(col("toks")) >= DecontShingle)
      .withColumn("split",
        when(bucket < 8, "train").when(bucket >= 9, "test"))
      .filter(col("split").isNotNull)
    val hx = docs.select(col("split"), explode(decontShingles).as("s"))
      .select(col("split"), poly_hash(col("s")).as("h")).distinct()
    val theta = hx.groupBy("split")
      .agg(kth_min(col("h"), OverlapK).as("hk"))
      .agg(min(coalesce(col("hk"), lit(graft.util.TextUtil.HashMod)))
        .as("theta"))
    val below = hx.crossJoin(broadcast(theta)).filter(col("h") < col("theta"))
    below.groupBy("h", "theta").agg(
        max(when(col("split") === "train", 1L).otherwise(0L)).as("in_a"),
        max(when(col("split") === "test", 1L).otherwise(0L)).as("in_b"))
      .groupBy("theta").agg(
        sum("in_a").as("n_train_sample"),
        sum("in_b").as("n_test_sample"),
        sum(col("in_a") * col("in_b")).as("n_inter"),
        count(lit(1)).as("n_union"))
      .select(col("theta"), col("n_train_sample"), col("n_test_sample"),
        col("n_inter"), col("n_union"),
        expr("1000000 * n_inter div greatest(n_union, 1)").as("jaccard_ppm"),
        expr(s"n_inter * ${graft.util.TextUtil.HashMod} div theta").as("est_inter"))
  }
  val textCorpusOverlapSql: String = s"""
    WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= $DecontShingle),
    sp AS (SELECT CASE WHEN b < 8 THEN 'train' ELSE 'test' END AS split, toks
      FROM (SELECT toks,
              (doc_id % 1000000007 * 2654435761 % 1000000007) % 10 AS b FROM tt)
      WHERE b < 8 OR b >= 9),
    sh AS (SELECT DISTINCT split, ${graft.util.TextUtil.polySql("s")} AS h
      FROM (SELECT split, unnest(${shinglesSql(DecontShingle)}) AS s FROM sp)),
    rk AS (SELECT split, h,
        row_number() OVER (PARTITION BY split ORDER BY h) AS rn FROM sh),
    kth AS (SELECT split, MAX(CASE WHEN rn = $OverlapK THEN h END) AS hk
      FROM rk GROUP BY split),
    th AS (SELECT MIN(COALESCE(hk, ${graft.util.TextUtil.HashMod})) AS theta FROM kth),
    below AS (SELECT split, h FROM sh, th WHERE h < theta),
    pv AS (SELECT h,
        MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_a,
        MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_b
      FROM below GROUP BY h)
    SELECT th.theta,
      CAST(SUM(in_a) AS BIGINT) AS n_train_sample,
      CAST(SUM(in_b) AS BIGINT) AS n_test_sample,
      CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter,
      COUNT(*) AS n_union,
      CAST(1000000 * SUM(in_a * in_b) // GREATEST(COUNT(*), 1) AS BIGINT)
        AS jaccard_ppm,
      CAST(SUM(in_a * in_b) * ${graft.util.TextUtil.HashMod} // th.theta AS BIGINT)
        AS est_inter
    FROM pv, th GROUP BY th.theta"""

  def textDecontaminate: Q = (spark, dir) => {
    graft.functions.register(spark)
    // Shared staged shingle table (r20): both the probe extraction and
    // the corpus-side scan read the memoized frame pipeline_curate and
    // pipeline_e2e also consume — one shingle explode + distinct per
    // sweep instead of three.
    val hx = decontShingleHashes(spark, dir).withColumnRenamed("sh", "h")
    val probes = hx.filter(col("doc_id") % 20 === 0).select("h").distinct()
      .withColumn("hit", lit(1L))
    hx.filter(col("doc_id") % 20 =!= 0)
      .join(broadcast(probes), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("n_hits"), col("n_shingles"),
        r6(col("n_hits") / col("n_shingles")).as("hit_ratio"))
      .orderBy("doc_id")
  }
  val textDecontaminateSql: String = s"""
    WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= $DecontShingle),
    sh AS (SELECT doc_id, unnest(${shinglesSql(DecontShingle)}) AS s FROM tt),
    hx AS (SELECT DISTINCT doc_id, ${graft.util.TextUtil.polySql("s")} AS h FROM sh),
    probes AS (SELECT DISTINCT h FROM hx WHERE doc_id % 20 = 0),
    j AS (SELECT c.doc_id, COUNT(*) AS n_shingles,
            CAST(SUM(CASE WHEN p.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
          FROM hx c LEFT JOIN probes p ON c.h = p.h
          WHERE c.doc_id % 20 <> 0 GROUP BY 1)
    SELECT doc_id, n_hits, n_shingles, round(n_hits / n_shingles, 6) AS hit_ratio
    FROM j WHERE n_hits > 0 ORDER BY doc_id"""

  // ── text_fuzzy_decontaminate — NEAR-duplicate eval contamination ────
  /** Fuzzy benchmark decontamination (r12): [[textDecontaminate]] flags
    * EXACT 8-token shingle overlap with the eval probe set, but real
    * contamination is usually PARAPHRASED — a benchmark row with every
    * 8th word substituted shares zero 8-grams and sails through the
    * exact probe (FuzzyDecontSpec plants exactly that pair and proves
    * the exact scan misses it). This op catches the near-duplicate
    * regime with the [[Dedup]] minhash machinery joined ACROSS the
    * split boundary: per-doc word-3-shingle 16-slot minhash signatures
    * ([[Dedup.minhashPer]] — the same signature table dedup_minhash_lsh
    * banding reads), banded 2-wide × 8 (not dedup's 4-wide × 4: the
    * paraphrase regime lives at Jaccard ~0.4-0.6, where 2-slot bands
    * catch with 1−(1−J²)⁸ ≈ 0.75-0.95 while 4-slot bands drop to
    * ~0.1-0.4), then corpus-side band keys hash-join PROBE-side band
    * keys only — train rows never self-join, so the candidate volume is
    * |corpus ∩ probe-colliding|, not a corpus pair explosion — and
    * exact hashed-shingle Jaccard ≥ 0.4 verifies. Scale: the probe set
    * is benchmark-sized; both sides of the band join shuffle on band
    * keys only; the signature table is the one dedup already persists.
    * Output: every (corpus doc, probe doc, jaccard) contamination pair. */
  final val FuzzyDecontThreshold = 0.4
  def textFuzzyDecontaminate: Q = (spark, dir) => {
    graft.functions.register(spark)
    fuzzyDecontPairs(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
  }
  /** The cross-split banded join over any (doc_id, text) frame — split
    * out so FuzzyDecontSpec can drive it with a planted paraphrased
    * probe twin. Probe set = doc_id % 20 == 0 ([[textDecontaminate]]'s
    * convention). */
  private[graft] def fuzzyDecontPairs(spark: SparkSession,
      docs: DataFrame): DataFrame = {
    val per = Dedup.minhashPer(docs)
    val bandKeys = (0 until 8).map { b =>
      concat_ws(":", lit(b) +: (0 until 2).map(j => col("sig").getItem(2 * b + j)): _*)
    }
    val bands = per.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
    val cand = bands.filter(col("doc_id") % 20 =!= 0)
      .join(bands.filter(col("doc_id") % 20 === 0)
        .select(col("bk"), col("doc_id").as("probe_id")), "bk")
      .select(col("doc_id"), col("probe_id")).distinct()
    cand
      .join(per.select(col("doc_id"), col("hs").as("hc")), "doc_id")
      .join(per.select(col("doc_id").as("probe_id"), col("hs").as("hp")), "probe_id")
      .withColumn("inter", size(array_intersect(col("hc"), col("hp"))).cast("double"))
      .select(col("doc_id"), col("probe_id"),
        r6(col("inter") / (size(col("hc")) + size(col("hp")) - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= FuzzyDecontThreshold)
      .orderBy("doc_id", "probe_id")
  }
  val textFuzzyDecontaminateSql: String = Dedup.minhashSigCtes + s""",
    fb AS (SELECT doc_id, (k // 2) || ':' || string_agg(mh::VARCHAR, ':' ORDER BY k) AS bk
           FROM mh GROUP BY doc_id, k // 2),
    pc AS (SELECT DISTINCT c.doc_id, p.doc_id AS probe_id
           FROM fb c JOIN fb p ON c.bk = p.bk
           WHERE p.doc_id % 20 = 0 AND c.doc_id % 20 <> 0),
    fj AS (SELECT pc.doc_id, pc.probe_id,
             round(len(list_intersect(a.hs, b.hs))::DOUBLE
               / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 6) AS jaccard
           FROM pc JOIN hsets a ON a.doc_id = pc.doc_id
                   JOIN hsets b ON b.doc_id = pc.probe_id)
    SELECT doc_id, probe_id, jaccard FROM fj
    WHERE jaccard >= $FuzzyDecontThreshold
    ORDER BY doc_id, probe_id"""

  // ── text_boilerplate — corpus-frequent shingle detection ─────────────
  /** Boilerplate detection (the RefinedWeb/CCNet-style cleanup step that
    * strips headers, footers, and templated spans): a 4-token shingle
    * appearing in ≥ [[BoilerDf]] DISTINCT documents is "boilerplate",
    * and each document reports how much of it is made of such shingles.
    * Scale: the document-frequency table is a wordcount-shaped hash
    * aggregate (map-side combined — the skew-proof shape; a windowed
    * `COUNT() OVER (PARTITION BY h)` would ship every occurrence of a
    * mega-frequent shingle to one task), and the df frame joins back on
    * the SAME shingle-hash key the aggregate just shuffled on, so the
    * exchange is reused. No broadcast: unlike the decontamination probe
    * set, the frequent-shingle set grows with the corpus and must stay
    * distributed. */
  final val BoilerShingle = 4
  final val BoilerDf = 3L
  def textBoilerplate: Q = (spark, dir) => {
    graft.functions.register(spark)
    val docs = materializedColumn(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        "toks", toksCol)
      .select(col("doc_id"), col("toks"))
      .filter(size(col("toks")) >= BoilerShingle)
    val hx = graft.util.Persist.stage(
      docs.select(col("doc_id"), explode(shinglesOf(BoilerShingle)).as("s"))
        .select(col("doc_id"), poly_hash(col("s")).as("h"))
        .distinct(),
      eager = false)
    val df = hx.groupBy("h").agg(count(lit(1)).as("df"))
    hx.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum((col("df") >= BoilerDf).cast("long")).as("n_boiler"))
      .filter(col("n_boiler") > 0)
      .select(col("doc_id"), col("n_boiler"), col("n_shingles"),
        r6(col("n_boiler") / col("n_shingles")).as("boiler_ratio"))
      .orderBy("doc_id")
  }
  val textBoilerplateSql: String = s"""
    WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= $BoilerShingle),
    sh AS (SELECT doc_id, unnest(${shinglesSql(BoilerShingle)}) AS s FROM tt),
    hx AS (SELECT DISTINCT doc_id, ${graft.util.TextUtil.polySql("s")} AS h FROM sh),
    df AS (SELECT h, COUNT(*) AS df FROM hx GROUP BY 1),
    j AS (SELECT c.doc_id, COUNT(*) AS n_shingles,
            CAST(SUM(CASE WHEN d.df >= $BoilerDf THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
          FROM hx c JOIN df d ON c.h = d.h GROUP BY 1)
    SELECT doc_id, n_boiler, n_shingles, round(n_boiler / n_shingles, 6) AS boiler_ratio
    FROM j WHERE n_boiler > 0 ORDER BY doc_id"""

  // ── text_bm25 — lexical relevance ranking (rational-idf BM25) ────────
  /** BM25 ranking of the corpus against doc 0's token set, with the
    * rational idf (N−df+0.5)/(df+0.5) — same ranking behaviour as the
    * log form without a cross-engine-nondeterministic `ln`. Every input
    * is an integer count (tf, df, dl, N, Σdl), each per-term contribution
    * is one fixed IEEE op sequence (bit-identical in DuckDB), and the
    * final score is SUMmed in exact integer micro-units — associative,
    * so any partitioning gives the identical hash. Scale: tf/dl are
    * map-side-combined aggregates; the query-term join broadcasts; the
    * only corpus shuffle is one hash join on doc_id. */
  final val Bm25TopK = 20
  def textBm25: Q = (spark, dir) => {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toksCol).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(sum("dl").as("tot"), count(lit(1)).as("nd"))
    val qterms = tf.filter(col("doc_id") === 0).select("tok")
    val dfc = tf.join(broadcast(qterms), "tok").groupBy("tok").agg(count(lit(1)).as("df"))
    val avgdl = col("tot").cast("double") / col("nd")
    val idf = (col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val contrib = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    tf.join(broadcast(dfc), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(contrib * lit(1000000.0) + lit(0.5)).cast("long").as("cm"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_match"), sum("cm").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(Bm25TopK)
  }
  val textBm25Sql: String = s"""
    WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS tot, COUNT(*) AS nd FROM dl),
    q AS (SELECT DISTINCT tok FROM tf WHERE doc_id = 0),
    dfc AS (SELECT tf.tok, COUNT(*) AS df FROM tf JOIN q USING (tok) GROUP BY 1),
    c AS (SELECT tf.doc_id,
            CAST(floor(
              (((nd - df + 0.5) / (df + 0.5)) * (tf * 2.2))
                / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(tot AS DOUBLE) / nd)))
              * 1000000.0 + 0.5) AS BIGINT) AS cm
          FROM tf JOIN dfc ON tf.tok = dfc.tok
               JOIN dl ON tf.doc_id = dl.doc_id, stats)
    SELECT doc_id, COUNT(*) AS n_match, CAST(SUM(cm) AS BIGINT) AS score_micro
    FROM c GROUP BY 1 ORDER BY score_micro DESC, doc_id LIMIT $Bm25TopK"""

  // ── text_clean — normalization pass (the pipeline's first map) ───────
  /** Text normalization: lowercase, trim, collapse whitespace runs —
    * the canonical first transform of every training-data pipeline
    * (normalize BEFORE dedup so formatting variants collide). Pure
    * map-only projection: no shuffle, stays inside whole-stage codegen,
    * parallelism = input splits at any scale. Emits per-doc before/after
    * lengths and the codepoint polyhash of the cleaned text (the key a
    * downstream exact-dedup would group on). DuckDB's regexp_replace
    * needs the explicit 'g' flag to match Spark's replace-all default,
    * and the whitespace class is spelled out because Java's \\s
    * includes \\x0B while RE2's does not. */
  def textClean: Q = (spark, dir) => {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("clean",
        trim(regexp_replace(lower(col("text")), "[ \\t\\n\\r\\f\\u000B]+", " ")))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("raw_len"),
        length(col("clean")).cast("long").as("clean_len"),
        (col("clean") =!= col("text")).cast("long").as("changed"),
        poly_hash_cp(col("clean")).as("clean_hash"))
      .orderBy("doc_id")
  }
  val textCleanSql: String = s"""
    WITH c AS (SELECT doc_id, text,
        trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS clean
      FROM documents)
    SELECT doc_id, CAST(len(text) AS BIGINT) AS raw_len,
      CAST(len(clean) AS BIGINT) AS clean_len,
      CAST(CASE WHEN clean <> text THEN 1 ELSE 0 END AS BIGINT) AS changed,
      CASE WHEN len(clean) = 0 THEN 0
           ELSE ${graft.util.TextUtil.polySql("clean")} END AS clean_hash
    FROM c ORDER BY doc_id"""

  // ── text_redact — denylist token redaction ───────────────────────────
  /** Denylist redaction — the filtering/PII-scrub shape: every token on
    * the denylist is replaced by a sentinel, and the doc reports its
    * redaction count plus the hash of the redacted text (proof the
    * replacement actually happened, not just counting). Membership here
    * is hash-derived (poly_hash(token) % 97 == 0 — a deterministic
    * stand-in the oracle replays; a production denylist is a broadcast
    * set probed the same way). Map-only over a Generate-barriered
    * tokenization (computed once per row despite three references —
    * see [[graft.util.Det.materializedColumn]]); no shuffle at any
    * scale. */
  def textRedact: Q = (spark, dir) => {
    graft.functions.register(spark)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    graft.util.Det.materializedColumn(docs, "toks", graft.util.TextUtil.toksCol)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("toks"), t => poly_hash(t) % 97 === 0)).cast("long").as("n_redacted"),
        poly_hash_cp(array_join(transform(col("toks"),
            t => when(poly_hash(t) % 97 === 0, lit("<r>")).otherwise(t)), " "))
          .as("redacted_hash"))
      .orderBy("doc_id")
  }
  val textRedactSql: String = {
    def polySql(c: String) = graft.util.TextUtil.polySql(c)
    s"""
    WITH t AS (SELECT doc_id, ${graft.util.TextUtil.toksSql} AS toks FROM documents),
    r AS (SELECT doc_id, toks,
        array_to_string(list_transform(toks,
          t -> CASE WHEN ${polySql("t")} % 97 = 0 THEN '<r>' ELSE t END), ' ') AS red
      FROM t)
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(len(list_filter(toks, t -> ${polySql("t")} % 97 = 0)) AS BIGINT) AS n_redacted,
      CASE WHEN len(red) = 0 THEN 0 ELSE ${polySql("red")} END AS redacted_hash
    FROM r ORDER BY doc_id"""
  }

  // ── text_tfidf — per-document keyword extraction ─────────────────────
  final val TfidfTopK = 3

  /** TF-IDF keyword extraction: the top-[[TfidfTopK]] most
    * characteristic terms per document, score = tf · N/df in integer
    * micro-units (the raw inverse-frequency ratio, no ln — same
    * engine-exact convention as [[textBm25]]'s odds-ratio idf). Shape:
    * two wordcount aggregates (tf per (doc,term), df per term), ONE
    * shuffle join on the term (vocab-sized side — NOT broadcast; this
    * is the wordcount-join shape that scales), and a per-doc top-k
    * window over the already-reduced tf frame. Deterministic tie-break
    * by term. */
  def textTfidf: Q = (spark, dir) => {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toksCol).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nd = tf.select("doc_id").distinct().agg(count(lit(1)).as("nd"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("tok"))
    tf.join(dfc, "tok")
      .crossJoin(broadcast(nd))
      .withColumn("score_micro",
        floor(col("tf") * lit(1000000.0) * col("nd") / col("df") + lit(0.5))
          .cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TfidfTopK)
      .select(col("doc_id"), col("rank"), col("tok"), col("score_micro"))
      .orderBy("doc_id", "rank")
  }
  val textTfidfSql: String = s"""
    WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfc AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM tf),
    scored AS (SELECT doc_id, tok,
        CAST(floor(tf * 1000000.0 * nd / df + 0.5) AS BIGINT) AS score_micro
      FROM tf JOIN dfc USING (tok), nd),
    ranked AS (SELECT doc_id, tok, score_micro,
        CAST(row_number() OVER (PARTITION BY doc_id
          ORDER BY score_micro DESC, tok) AS BIGINT) AS rank
      FROM scored)
    SELECT doc_id, rank, tok, score_micro FROM ranked
    WHERE rank <= $TfidfTopK ORDER BY doc_id, rank"""

  // ── text_gopher_quality — repetition-based quality rules ─────────────
  /** The Gopher/MassiveText-style repetition filters (Rae et al. 2021
    * table A1; also RefinedWeb §3): a document is low-quality when too
    * much of it is the SAME text repeated — measured here as the
    * duplicate-word-bigram fraction (1 − distinct/total bigrams) and the
    * most-frequent-single-word fraction, plus a minimum length. The keep
    * rule is evaluated by integer cross-multiplication (n_dup·1000 ≤
    * n_bigrams·[[GopherDupPm]] etc.) so no float compare can diverge;
    * the reported ratios are 6-dp-rounded exact integer divisions.
    * Scale: two wordcount-shaped hash aggregates (keys include doc_id —
    * map-side combined, skew-free by construction) joined per-doc; one
    * corpus scan per aggregate, no windows, no broadcast state. */
  final val GopherMinWords = 20L
  final val GopherDupPm = 60L   // dup-bigram fraction ≤ 6.0%
  final val GopherTopPm = 140L  // top-word fraction ≤ 14.0%
  // ── Shared curation staging frames (r20 optimization round) ─────────
  // Two frames are each recomputed by 2-3 registered keys per sweep:
  // the gopher per-doc verdict table (text_gopher_quality AND
  // pipeline_e2e's gopher stage — the composition's most expensive
  // stage wall at 1.2 s) and the distinct 8-token shingle-hash table
  // (text_decontaminate, pipeline_curate, pipeline_e2e). Same
  // plan-level-reuse posture as Dedup.pairFrameShared / the IVF model
  // memos, inside the r19 verdict's ruled line: every memo here has
  // ≥2 registered consumers, each key's own tail (probe join /
  // aggregate / total sort) runs per evaluation, and the builders are
  // deterministic so the memoized frame is content-identical to a
  // fresh build (sibling hashes unchanged). Staged through
  // [[graft.util.Staged]], which releases them with every other artifact.
  private def frameShared(spark: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame =
    graft.util.Staged.get(spark, s"text.$tag", dir)(build)

  /** The distinct 8-token shingle-hash table (doc_id, sh) the
    * decontamination stages read — ONE definition, staged once per
    * (session, dir); consumers: [[textDecontaminate]],
    * [[graft.ops.Pipeline.pipelineCurate]],
    * [[graft.ops.Pipeline.pipelineE2e]]. */
  private[ops] def decontShingleHashes(spark: SparkSession, dir: String): DataFrame =
    frameShared(spark, dir, "shingle8") {
      graft.util.Persist.stage(
        materializedColumn(
            Tables.documents(spark, dir).select(col("doc_id"), col("text")),
            "toks", toksCol)
          .filter(size(col("toks")) >= DecontShingle)
          .select(col("doc_id"), explode(decontShingles).as("s"))
          .select(col("doc_id"), poly_hash(col("s")).as("sh"))
          .distinct(),
        eager = false)
    }

  /** The UNORDERED gopher verdict frame — [[textGopherQuality]] is this
    * plus its total sort; [[graft.ops.Pipeline.pipelineE2e]] reads
    * (doc_id, keep). */
  private[ops] def gopherVerdictsShared(spark: SparkSession, dir: String): DataFrame =
    frameShared(spark, dir, "gopher") {
      val base = materializedColumn(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")),
          "toks", toksCol)
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("toks"))
      val words = base.select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_words"), max("c").as("top_word_n"))
      val bigrams = base
        .select(col("doc_id"), explode(shinglesOf(2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), count(lit(1)).as("n_distinct"))
        .withColumn("n_dup", col("n_bigrams") - col("n_distinct"))
        .select("doc_id", "n_bigrams", "n_dup")
      graft.util.Persist.stage(
        words.join(bigrams, "doc_id")
          .select(col("doc_id"), col("n_words"), col("top_word_n"),
            col("n_bigrams"), col("n_dup"),
            r6(col("n_dup") / col("n_bigrams")).as("dup_ratio"),
            r6(col("top_word_n") / col("n_words")).as("top_ratio"),
            (col("n_words") >= GopherMinWords &&
              col("n_dup") * 1000L <= col("n_bigrams") * GopherDupPm &&
              col("top_word_n") * 1000L <= col("n_words") * GopherTopPm)
              .cast("long").as("keep")),
        eager = false)
    }

  def textGopherQuality: Q = (spark, dir) =>
    gopherVerdictsShared(spark, dir).orderBy("doc_id")
  val textGopherQualitySql: String = s"""
    WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
    w AS (SELECT doc_id, unnest(toks) AS w FROM tt),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
    ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             MAX(c) AS top_word_n FROM wc GROUP BY 1),
    bg AS (SELECT doc_id, unnest(${shinglesSql(2)}) AS bg FROM tt),
    bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup FROM bc GROUP BY 1)
    SELECT doc_id, n_words, top_word_n, n_bigrams, n_dup,
      round(n_dup / n_bigrams, 6) AS dup_ratio,
      round(top_word_n / n_words, 6) AS top_ratio,
      CAST(n_words >= $GopherMinWords
        AND n_dup * 1000 <= n_bigrams * $GopherDupPm
        AND top_word_n * 1000 <= n_words * $GopherTopPm AS BIGINT) AS keep
    FROM ws JOIN bs USING (doc_id) ORDER BY doc_id"""

  val queries: Map[String, Q] = Map(
    "text_gopher_quality" -> textGopherQuality,
    "text_tfidf" -> textTfidf,
    "text_redact" -> textRedact,
    "text_clean" -> textClean,
    "text_chunk" -> textChunk,
    "text_bm25" -> textBm25,
    "text_boilerplate" -> textBoilerplate,
    "text_decontaminate" -> textDecontaminate,
    "text_lang_id" -> textLangId,
    "text_lm_score" -> textLmScore,
    "text_train_split" -> textTrainSplit,
    "text_top_terms" -> textTopTerms,
    "text_bigram_lm" -> textBigramLm,
    "text_collocations" -> textCollocations,
    "text_quality" -> textQuality,
    "text_tokens" -> textTokens,
    "text_fingerprint" -> textFingerprint,
    "text_kmv_sketch" -> textKmvSketch,
    "text_corpus_overlap" -> textCorpusOverlap,
    "text_hll_sketch" -> textHllSketch,
    "text_fuzzy_decontaminate" -> textFuzzyDecontaminate)

  val oracles: Map[String, String] = Map(
    "text_fuzzy_decontaminate" -> textFuzzyDecontaminateSql,
    "text_gopher_quality" -> textGopherQualitySql,
    "text_tfidf" -> textTfidfSql,
    "text_redact" -> textRedactSql,
    "text_clean" -> textCleanSql,
    "text_chunk" -> textChunkSql,
    "text_bm25" -> textBm25Sql,
    "text_boilerplate" -> textBoilerplateSql,
    "text_decontaminate" -> textDecontaminateSql,
    "text_lang_id" -> textLangIdSql,
    "text_lm_score" -> textLmScoreSql,
    "text_train_split" -> textTrainSplitSql,
    "text_top_terms" -> textTopTermsSql,
    "text_bigram_lm" -> textBigramLmSql,
    "text_collocations" -> textCollocationsSql,
    "text_quality" -> textQualitySql,
    "text_tokens" -> textTokensSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_kmv_sketch" -> textKmvSketchSql,
    "text_corpus_overlap" -> textCorpusOverlapSql,
    "text_hll_sketch" -> textHllSketchSql)
}
