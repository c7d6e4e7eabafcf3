package graft

import org.apache.spark.sql.SparkSession

/** Candidate-volume telemetry for the bench sweep, WITH alarm bounds.
  *
  * Every round-10 perf root-cause (the ngram blocking collapse, the LSH
  * S-curve volume) was found by counting CANDIDATE frames offline —
  * the banded/bucketed pair volumes that must stay linear in corpus
  * size, and silently go quadratic when a blocking key degenerates.
  * These audits count the EXACT frames the registered queries run
  * (shared constructors, not replicas), so [[Bench]] can emit them in
  * `bench_result.json` and a superlinear drift is visible in ONE sweep
  * diff instead of a dedicated investigation.
  *
  * Round 12 (VERDICT r11 #2): counts alone still needed a human to
  * LOOK — the r10 collapse would have sat in the JSON unnoticed. Each
  * audit now carries a `maxPerRow` bound (count / corpus rows), set at
  * ~2× the larger of the measured sf0.1/sf1 per-row values — wide
  * enough for data drift, tight enough that the historical collapse
  * trips it: AuditAlarmSpec reproduces the r10 unmixed-minhash bug
  * through the production join and measures 1212 raw pairs/doc at
  * sf0.1 vs the healthy 318 (sf0.1) / 457 (sf1) — and the quadratic
  * curve means every further scale step widens that gap. [[Bench]]
  * evaluates [[breached]] per audit, emits the verdicts in the JSON
  * (`audits` objects + a top-level `audit_alarms` list) and prints a
  * loud stderr line on breach — the sweep output itself is the alarm.
  *
  * Measured per-row references (sf0.1 → sf1, this round):
  *   - minhash candidates/doc        0.18 → 0.19   (bound 2.0)
  *   - simhash candidates/doc        31.6 → 51.6   (bound 110)
  *   - ngram raw pairs/doc           318  → 457    (bound 950)
  *   - embedding candidates/vector   1.90 → 3.41   (bound 8)
  *   - embedding EXCESS/vector       1.89 → 3.35   (bound 7; the
  *     sim<0.4 verify failures — the random floor the r12 n-adaptive
  *     geometry bounds; the old fixed 16×16 measured 0.47 → 4.84 and
  *     growing ∝n, so one further 10× step trips this alarm)
  *   - nng delete patch cands/vector 5.17 → 5.07   (bound 11; the
  *     |victims|·K² construction bound divided by n is ~6.5)
  *
  * Untimed: Bench runs them AFTER the timed reps. Each is one extra
  * evaluation of a candidate stage (seconds at sf0.1); the nng entry
  * reuses the session's memoized graph build, so it costs one keyed
  * join, not an index construction. */
object Audits {
  /** One telemetry probe: the candidate count, the corpus-row basis it
    * must stay linear against, and the alarm bound on count/rows. */
  final case class Audit(
      count: (SparkSession, String) => Long,
      rows: (SparkSession, String) => Long,
      maxPerRow: Double)

  /** The alarm rule — factored so AuditAlarmSpec can drive it with a
    * synthetic collapse without running a sweep. */
  def breached(a: Audit, count: Long, rows: Long): Boolean =
    count > a.maxPerRow * math.max(rows, 1L)

  private val docRows: (SparkSession, String) => Long =
    (s, d) => Tables.documents(s, d).count()
  private val vecRows: (SparkSession, String) => Long =
    (s, d) => Tables.embeddings(s, d).count()

  val audits: Map[String, Audit] = Map(
    // Banded near-dup pair volumes (post bucket-cap, pre verify).
    "dedup_minhash_lsh.candidates" -> Audit((s, d) =>
      ops.Dedup.minhashPerAndCandidates(s, d)._2.count(), docRows, 2.0),
    "dedup_simhash.candidates" -> Audit((s, d) =>
      ops.Dedup.simhashCandidates(ops.Dedup.simhashChunksDf(s, d)).count(),
      docRows, 110.0),
    // RAW banded pair stream (pre-prefilter, pre-distinct) — the r10
    // blocking-collapse bug surfaced in exactly this count.
    "dedup_ngram_jaccard.raw_pairs" -> Audit((s, d) =>
      ops.Dedup.ngramRawPairs(s, d)._2.count(), docRows, 950.0),
    "dedup_embedding.candidates" -> Audit((s, d) =>
      ops.Dedup.embeddingCandidates(s, d).count(), vecRows, 8.0),
    // The verify-failure floor: candidates the exact cosine rejects.
    // This is the number the n-adaptive band geometry holds ~constant
    // per row; a fixed geometry (or a future regression) grows it
    // linearly per row and trips the bound within one 10× scale step.
    "dedup_embedding.excess" -> Audit((s, d) =>
      ops.Dedup.embeddingScoredCandidates(s, d)
        .filter(org.apache.spark.sql.functions.col("sim") < 0.4).count(),
      vecRows, 7.0),
    // Tuned-design-point banded pairs (r12 made it n-adaptive too —
    // the fixed 12×35 measured ~2M candidates at sf1, n²·35/2^13;
    // adaptive reads 5,393 → 90,334 = 2.70 → 4.52/row).
    "vs_lsh_tuned.candidates" -> Audit((s, d) =>
      ops.VectorSearch.lshTunedCandidates(s, d).count(), vecRows, 10.0),
    // Bucket-cap engagement (r12): at large n a blocking collapse can
    // manifest as DROPPED oversized buckets (silent recall loss) rather
    // than pair volume — the volume alarms above cannot see that. The
    // caps are sized to be unreachable on healthy corpora (spec-proved
    // equal to the uncapped join at test SFs), so ANY engaged cap is an
    // alarm: maxPerRow = 0.
    "dedup_ngram_jaccard.capped_buckets" -> Audit((s, d) =>
      ops.Dedup.ngramCappedBuckets(s, d), docRows, 0.0),
    "dedup_embedding.capped_buckets" -> Audit((s, d) =>
      ops.Dedup.embeddingCappedBuckets(s, d), vecRows, 0.0),
    // Perceptual-hash banded pairs (r14): the family structure bounds
    // candidates at ~(stride-1)/2 = 7.5/doc at ANY corpus size (families
    // are 16 docs by construction; cross-family chunk-pair collisions
    // are mixer-random at ~2^-28). Measured 6.68/doc at sf0.01 and
    // 6.82/doc at sf0.1 (flat, as construction predicts)
    // -> bound 16. A banding collapse (e.g. a future linear-mixer
    // regression - the first cut leaked 2,192 cross-family pairs, 4.4
    // extra per doc) grows this with corpus size and trips the bound.
    "mm_phash.candidates" -> Audit((s, d) =>
      ops.Multimodal.mmPhashCandidates(s, d)._2.count(), docRows, 16.0),
    // Delete-repair patch candidates: bounded at |victims|*K^2 by the
    // victim fan-in cap — this count is the standing proof.
    "vs_nng_delete.patch_candidates" -> Audit((s, d) => {
      val qv = graft.util.Persist.stage(
        ops.VectorSearch.int8Grid(s, d), eager = false)
      val (refined, _) = ops.NnGraph.buildShared(qv, d, "full")
      ops.VectorSearch.nngPatchCandidates(refined).count()
    }, vecRows, 11.0))
}
