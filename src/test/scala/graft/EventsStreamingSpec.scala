package graft

import graft.ops.{Events, Multimodal}
import graft.streaming.Streaming
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, count, lit, max, min}

class EventsStreamingSpec extends SparkSpec {

  test("ev_window_agg covers all event types with positive counts") {
    val rows = Events.evWindowAgg(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("event_type")).distinct.sorted.toSeq ==
      Seq("click", "error", "purchase", "signup", "view"))
    assert(rows.forall(_.getAs[Long]("n") > 0))
  }

  test("ev_sessionize: session ids are dense from 1 and ranges are ordered") {
    val rows = Events.evSessionize(spark, sf).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { sessions =>
      val sids = sessions.map(_.getAs[Long]("sid")).sorted.toSeq
      assert(sids == (1L to sids.length.toLong))
    }
    assert(rows.forall(r => r.getAs[Long]("start_us") <= r.getAs[Long]("end_us")))
  }

  test("ev_funnel stages are monotone in time") {
    val rows = Events.evFunnel(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val stage = r.getAs[Long]("stage")
      if (stage >= 2) assert(r.getAs[Long]("t_click") > r.getAs[Long]("t_view"))
      if (stage == 3) assert(r.getAs[Long]("t_purchase") > r.getAs[Long]("t_click"))
    }
  }

  test("ev_retention: offset-0 cell equals the cohort's full user count") {
    val rows = Events.evRetention(spark, sf).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[Long]("cohort_day"))
    byCohort.values.foreach { cells =>
      val zero = cells.find(_.getAs[Long]("day_offset") == 0L)
      assert(zero.isDefined) // every user is active on their first day
      assert(cells.forall(_.getAs[Long]("n_users") <= zero.get.getAs[Long]("n_users")))
    }
  }

  test("ev_asof_join: every match is the latest click at or before the purchase") {
    val rows = Events.evAsofJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(3)).foreach { r =>
      assert(r.getAs[Long]("last_click_us") <= r.getAs[Long]("ts_us"))
    }
    assert(rows.exists(!_.isNullAt(3))) // at least some purchases have prior clicks
  }

  test("ev_range_join: every pair is within the hour window, error before purchase") {
    val rows = Events.evRangeJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Long]("p_us") - r.getAs[Long]("err_us")
      assert(d >= 0 && d <= 3600L * 1000000L)
    }
  }

  test("streaming window agg (AvailableNow → memory sink) equals batch result") {
    val stream = Streaming.windowAggStream(spark, sf)
    val q = stream.writeStream
      .format("memory").queryName("stream_win")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    def key(r: Row) = (r.getAs[Long]("win_us"), r.getAs[String]("event_type"),
      r.getAs[Long]("n"), r.getAs[Long]("sum_value_c"))
    val streamed = spark.table("stream_win").collect().map(key).toSet
    val batch = Streaming.windowAggBatch(spark, sf).collect().map(key).toSet
    assert(streamed == batch)
  }

  test("streaming windowed Misra-Gries: bounded state, guarantee holds, verify reproduces batch") {
    val q = Streaming.heavyHittersStream(spark, sf).writeStream
      .format("memory").queryName("stream_hh")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_hh").collect()
    assert(streamed.nonEmpty)
    // exact per-window truth, computed independently
    val winUs = Streaming.WinUs
    val exact = Tables.events(spark, sf)
      .selectExpr(s"((ts div 1000) div $winUs) * $winUs AS win_us", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(x => x).map { case (k, v) => k -> v.size.toLong }
    val nWin = exact.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    def ph(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    streamed.foreach { r =>
      val w = r.getAs[Long]("win_us")
      val cs = r.getSeq[Long](r.fieldIndex("cs")).toSet
      // bounded state: at most k candidate hashes per window
      assert(cs.size <= Streaming.ShhK)
      assert(r.getAs[Long]("n_win") == nWin(w))
      // the MG guarantee: every type above n_win/(k+1) is in candidates
      exact.filter(_._1._1 == w).foreach { case ((_, tpe), n) =>
        if (n * (Streaming.ShhK + 1) > nWin(w))
          assert(cs.contains(ph(tpe)), s"window $w lost guaranteed heavy $tpe")
      }
    }
    // exact verification over the STREAMED candidates == the registered twin
    val streamCand = streamed.flatMap(r =>
      r.getSeq[Long](r.fieldIndex("cs")).map(k => (r.getAs[Long]("win_us"), k))).toSet
    val verified = exact.toSeq.collect {
      case ((w, tpe), n) if streamCand((w, ph(tpe))) &&
        n * (Streaming.ShhK + 1) > nWin(w) => (w, tpe, n, nWin(w))
    }.sortBy(t => (t._1, t._2))
    val twin = Streaming.heavyHittersBatch(spark, sf).collect()
      .map(r => (r.getAs[Long]("win_us"), r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Long]("n_win"))).toSeq
    assert(twin == verified)
    // Selectivity is a LARGE-window property: at sf0.001 a 15-min window
    // holds a handful of events, so every present type can clear 25%
    // (n·4 > n_win is easy at n_win ≤ 12) — assert only the invariant
    // that holds at every scale: nothing below the threshold reports.
    assert(twin.nonEmpty)
    twin.foreach { case (_, _, n, nw) => assert(n * (Streaming.ShhK + 1) > nw) }
  }

  test("streaming column stats: deduping KMV heap makes stream sketch == batch sketch") {
    val q = Streaming.analyzeStream(spark, sf).writeStream
      .format("memory").queryName("stream_an")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    def key(r: Row) = (r.getAs[String]("cname"), r.getAs[Long]("n_rows"),
      r.getAs[Long]("min_v"), r.getAs[Long]("max_v"),
      if (r.isNullAt(r.fieldIndex("hk"))) None else Some(r.getAs[Long]("hk")))
    val streamed = spark.table("stream_an").collect().map(key).toSet
    assert(streamed.size == 2)
    // h_k is an order statistic of the DISTINCT hash set — partition-
    // and micro-batch-order independent, so equality is exact even
    // though the raw stream carries duplicates. Expected = the same
    // sketch aggregate over an independently-stacked batch read.
    val stackedBatch = graft.Tables.events(spark, sf).selectExpr(
        "explode(array(named_struct('cname', 'events.user_id', 'v', CAST(user_id AS LONG))," +
          " named_struct('cname', 'events.value_c', 'v', CAST(floor(value*100+0.5) AS LONG)))) AS s")
      .selectExpr("s.cname AS cname", "s.v AS v")
    val expect = stackedBatch.groupBy("cname")
      .agg(count(lit(1)).as("n_rows"), min("v").as("min_v"), max("v").as("max_v"),
        graft.functions.kmv_kth_min(graft.util.Det.hashCoin(col("v")),
          graft.ops.Lake.AnalyzeKmvK).as("hk"))
      .collect().map(key).toSet
    assert(streamed == expect)
    // registered twin consistency: its ndv_kmv derives from the same hk
    val twin = Streaming.analyzeBatch(spark, sf).collect()
      .map(r => r.getAs[String]("column_name") ->
        (r.getAs[Long]("ndv_exact"), r.getAs[Long]("ndv_kmv"))).toMap
    streamed.foreach { case (cname, _, _, _, hkOpt) =>
      val (exact, est) = twin(cname)
      hkOpt match {
        case Some(hk) => assert(est == 63L * 2147483648L / math.max(hk, 1L), cname)
        case None => assert(est == exact, s"$cname: below k the estimate must be exact")
      }
    }
  }

  test("stateful stream sessionization emits exactly the closed batch sessions") {
    val q = Streaming.sessionizeStream(spark, sf).writeStream
      .format("memory").queryName("stream_sess")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    def key(r: Row) = (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
      r.getAs[Long]("end_us"), r.getAs[Long]("n_events"), r.getAs[Long]("sum_value_c"))
    val streamed = spark.table("stream_sess").collect().map(key).toSet
    // One batch processes all events per user: every session except the
    // still-open last one per user must have been emitted — which is
    // exactly the registered stream_sessionize batch twin.
    val expected = Streaming.sessionizeClosedBatch(spark, sf).collect().map(key).toSet
    assert(streamed.nonEmpty && streamed == expected)
    // The twin is strictly smaller than the full batch sessionization
    // (it drops one open session per active user).
    assert(expected.size < graft.ops.Events.evSessionize(spark, sf).count())
  }

  test("stream-stream interval join equals the batch interval join") {
    val q = Streaming.clickPurchaseJoinStream(spark, sf).writeStream
      .format("memory").queryName("stream_ssj")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    def key(r: Row) = (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"),
      r.getAs[Long]("p_id"), r.getAs[Long]("c_us"), r.getAs[Long]("p_us"))
    val streamed = spark.table("stream_ssj").collect().map(key).toSet
    val batch = Streaming.clickPurchaseJoinBatch(spark, sf).collect().map(key).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("stateful stream transition pairs aggregate to the batch transition counts") {
    val q = Streaming.transitionStream(spark, sf).writeStream
      .format("memory").queryName("stream_trans")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_trans")
      .groupBy("prev_type", "next_type").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("count")).toMap
    val batch = Streaming.transitionCountsBatch(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(streamed.nonEmpty && streamed == batch)
    // conservation: one pair per event after each user's first
    val ev = graft.Tables.events(spark, sf)
    assert(streamed.values.sum ==
      ev.count() - ev.select("user_id").distinct().count())
  }

  test("stateful stream attribution aggregates to the batch channel report") {
    val q = Streaming.attributionStream(spark, sf).writeStream
      .format("memory").queryName("stream_attr")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_attr")
      .groupBy("channel")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("value_c").as("s"))
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("s"))).toMap
    val batch = Streaming.attributionCountsBatch(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_purchases"), r.getAs[Long]("sum_value_c"))).toMap
    assert(streamed.nonEmpty && streamed == batch)
    // conservation: every purchase is credited exactly once
    assert(streamed.values.map(_._1).sum ==
      graft.Tables.events(spark, sf)
        .filter(org.apache.spark.sql.functions.col("event_type") === "purchase").count())
  }

  test("streaming dedup emits one row per distinct content hash") {
    val q = Streaming.dedupStream(spark, sf).writeStream
      .format("memory").queryName("stream_dedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_dedup").collect()
    val batchDistinct = graft.ops.Dedup.dedupExact(spark, sf).count()
    assert(streamed.length.toLong == batchDistinct)
    assert(streamed.map(_.getAs[String]("h")).distinct.length == streamed.length)
  }

  test("stateful stream upsert: last emitted row per key equals the batch merge") {
    val q = Streaming.upsertStream(spark, sf).writeStream
      .format("memory").queryName("stream_upsert")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val emitted = spark.table("stream_upsert").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"), r.getAs[Long]("value_c")))
    // per key, versions only ever advance (the change-log is monotone);
    // take the last (max-version) emission per key
    val lastPerKey = emitted.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).maxBy(x => (x._1, x._2)) }
    val batch = Streaming.upsertLatestBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"), r.getAs[Long]("value_c"))).toMap
    assert(lastPerKey.nonEmpty && lastPerKey == batch)
  }

  test("mm_features: batched stub featurize keeps schema, rows, determinism") {
    val a = Multimodal.mmFeatures(spark, sf).collect()
    val b = Multimodal.mmFeatures(spark, sf).collect()
    assert(a.nonEmpty && a.length == b.length)
    assert(a.head.schema == Multimodal.outputSchema)
    val fa = a.head.getAs[scala.collection.Seq[Double]]("features")
    val fb = b.head.getAs[scala.collection.Seq[Double]]("features")
    assert(fa == fb && fa.length == Multimodal.FeatDim)
    assert(a.forall(_.getAs[Long]("n_bytes") > 0))
  }

  test("mm_features oracle assumption holds: the documents corpus is pure ASCII") {
    // mmFeaturesSql equates DuckDB codepoint stats with the stub's BYTE
    // stats, which is only valid while every document is ASCII (strlen
    // counts bytes, unicode() would exceed 127). Guard the assumption at
    // both driver SFs so a future corpus change fails HERE, loudly,
    // instead of as an opaque oracle hash mismatch.
    import org.apache.spark.sql.functions._
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val mx = Tables.documents(spark, dir)
        .select(array_max(transform(split(col("text"), ""),
          c => ascii(c))).as("mx"))
        .agg(max("mx")).head().getInt(0)
      assert(mx < 128, s"$dir: non-ASCII codepoint $mx in documents.text")
    }
  }

  test("streaming quantile histogram (complete mode) equals the driver replay") {
    val q = Streaming.quantileHistStream(spark, sf).writeStream
      .format("memory").queryName("stream_quantile_hist")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_quantile_hist").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bin")) ->
        r.getAs[Long]("c")).toMap
    val span = Streaming.SqHiC - Streaming.SqLoC + 1
    def binOf(vc: Long): Long = math.min(math.max(
      Math.floorDiv((vc - Streaming.SqLoC) * Streaming.SqBins, span), 0L),
      Streaming.SqBins - 1)
    val want = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(r => (r.getString(0), binOf(math.floor(r.getDouble(1) * 100 + 0.5).toLong)))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(streamed.nonEmpty && streamed == want)
  }

  test("stream_quantile estimates are the exact upper edge of the true quantile's bin") {
    val got = Streaming.quantileSketchBatch(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("q_pm")) ->
        (r.getAs[Long]("est_c"), r.getAs[Long]("n"))).toMap
    val span = Streaming.SqHiC - Streaming.SqLoC + 1
    def binOf(vc: Long): Long = math.min(math.max(
      Math.floorDiv((vc - Streaming.SqLoC) * Streaming.SqBins, span), 0L),
      Streaming.SqBins - 1)
    def upperEdge(b: Long): Long =
      Streaming.SqLoC + ((b + 1) * span + Streaming.SqBins - 1) / Streaming.SqBins - 1
    val byType = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong))
      .groupBy(_._1).map { case (t, v) => t -> v.map(_._2).sorted }
    assert(got.nonEmpty)
    for (((t, qpm), (est, n)) <- got) {
      val vs = byType(t)
      assert(n == vs.length.toLong)
      val rank = ((qpm * n + 999L) / 1000L).toInt
      val trueQ = vs(rank - 1)
      assert(est == upperEdge(binOf(trueQ)),
        s"$t q$qpm: est $est != upper edge of true-quantile bin (true $trueQ)")
      assert(est >= trueQ) // one-sided within the clamp domain
    }
    // every (type, probe) cell is present
    val types = byType.keySet
    assert(got.keySet == (for (t <- types; q <- Streaming.SqQuantiles) yield (t, q)).toSet)
  }

  test("streaming bot-cadence counters equal batch twin; flags equal ev_bot_detect") {
    val q = Streaming.botCadenceStream(spark, sf).writeStream
      .format("memory").queryName("stream_cad")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // counters are monotone per user, so the final state row is the one
    // with the max n_gaps
    val finals = spark.table("stream_cad").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).maxBy(_._1) }
    val batch = Streaming.botCadenceBatch(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(finals.nonEmpty && finals == batch)
    // deriving cv2/flag from the final counters reproduces ev_bot_detect
    val wantFlags = graft.ops.Events.evBotDetect(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    val gotFlags = finals.collect { case (u, (n, sd, sd2))
        if n >= graft.ops.Events.BotMinGaps =>
      val cv2 = if (sd == 0) 0L
        else ((BigInt(1000000) * (BigInt(n) * sd2 - BigInt(sd) * sd)) /
          (BigInt(sd) * sd)).toLong
      u -> (cv2, if (cv2 < graft.ops.Events.BotCv2FloorPpm) 1L else 0L)
    }.toMap
    assert(gotFlags == wantFlags)
  }

  test("streaming vector ingest (stateless embed + cell assign) equals batch twin") {
    val q = Streaming.vsIngestStream(spark, sf).writeStream
      .format("memory").queryName("stream_vsi")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    def key(r: Row) = (r.getAs[Long]("doc_id"), r.getAs[Long]("cell"),
      r.getAs[Long]("dim"), r.getAs[Long]("checksum"))
    val streamed = spark.table("stream_vsi").collect().map(key).toSet
    val batch = Streaming.vsIngestAssignBatch(spark, sf).collect().map(key).toSet
    assert(streamed.nonEmpty && streamed == batch)
    // the stream plan is stateless: the executed micro-batches report no
    // state-store operators (active.length==0 would only prove the
    // AvailableNow query terminated, not that the plan carried no state)
    val progresses = q.recentProgress
    assert(progresses.nonEmpty)
    assert(progresses.forall(_.stateOperators.isEmpty),
      "vs_ingest stream must run with zero state-store operators")
    // every assigned cell is one of the IngestK centroids
    assert(batch.map(_._2).subsetOf(
      Streaming.ingestCentroids(spark, sf).map(_._1).toSet))
    // per-doc checksum matches the vs_ingest embedder proof
    val vsChk = graft.ops.VectorSearch.queries("vs_ingest")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("checksum")).toMap
    batch.foreach { case (id, _, _, chk) => assert(vsChk(id) == chk) }
  }

  test("streaming search serving (stateless per-batch top-k) equals batch twin") {
    def key(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = Streaming.vsSearchStream(spark, sf,
      df => got.synchronized { got ++= Streaming.ranked(df).collect().map(key) })
    q.awaitTermination(120000)
    val streamed = got.toSet
    val batch = Streaming.vsSearchServeBatch(spark, sf).collect().map(key).toSet
    assert(streamed.nonEmpty && streamed == batch,
      "streaming top-k serving diverged from the batch twin")
    // Each query's top-k is cut inside its own micro-batch: the executed
    // micro-batches report no state-store operators at all.
    val progresses = q.recentProgress
    assert(progresses.nonEmpty)
    assert(progresses.forall(_.stateOperators.isEmpty),
      "search serve must run with zero state-store operators")
  }

  test("indexed streaming search (stream_search_ivf): stream ≡ batch, recall floor, partial scan") {
    import org.apache.spark.sql.functions._
    def key(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = Streaming.vsSearchIvfStream(spark, sf,
      df => got.synchronized { got ++= Streaming.ranked(df).collect().map(key) })
    q.awaitTermination(120000)
    val streamed = got.toSet
    val batchRows = Streaming.vsSearchIvfBatch(spark, sf).collect()
    assert(streamed.nonEmpty && streamed == batchRows.map(key).toSet,
      "indexed streaming serve diverged from the batch twin")
    assert(q.recentProgress.nonEmpty && q.recentProgress.forall(_.stateOperators.isEmpty),
      "search serve must run with zero state-store operators")
    // Recall@10 vs the EXACT serving twin clears the measured floor
    // (measured 0.78/0.68/0.67/0.672 at sf0.001/0.01/0.1/1 — nprobe 3
    // of 8 cells; floor 0.60 with margin).
    val exact = Streaming.vsSearchServeBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("c_id"))).toSet
    val approx = batchRows.map(r => (r.getLong(0), r.getAs[Long]("c_id"))).toSet
    val recallPpm = 1000000L * exact.count(approx.contains) / exact.size
    info(s"indexed serve recall vs exact twin: $recallPpm ppm over ${exact.size} pairs")
    assert(recallPpm >= Streaming.SearchIvfRecallFloorPpm,
      s"recall $recallPpm ppm below floor ${Streaming.SearchIvfRecallFloorPpm}")
    // The point of the index: a query scores only its nprobe cells'
    // populations, never the whole corpus. Re-derive the assignment
    // (same trainer) and measure the probed fraction.
    val corpus = Tables.embeddings(spark, sf).count()
    val grid = graft.util.Persist.stage(
      graft.ops.VectorSearch.int8Grid(spark, sf), eager = false)
    val model = graft.ops.IvfIndex.fitInt(grid, "vec_id", "qd", k = 8, iters = 2)
    val cellSizes = grid
      .select(graft.ops.IvfIndex.intCellOf(col("qd"), model).as("cell"))
      .groupBy("cell").count().collect()
      .map(r => r.getAs[Int]("cell") -> r.getAs[Long]("count")).toMap
    // Per query the probed population is the sum of its 3 cells — upper
    // bound with the 3 largest cells, still strictly below the corpus.
    val worstProbed = cellSizes.values.toSeq.sorted.reverse.take(Streaming.SearchNprobe).sum
    info(s"worst-case probed ${worstProbed} of $corpus rows " +
      f"(${100.0 * worstProbed / corpus}%.0f%% — full scan would be 100%%)")
    assert(worstProbed < corpus,
      "nprobe cell join probes the whole corpus — the index buys nothing")
  }

  test("streaming graph upsert (stream_nng_upsert): micro-batch placement ≡ batch, zero state") {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = Streaming.nngUpsertStream(spark, sf) { df =>
      val rows = df.collect().map(r => (r.getAs[Long]("src"),
        r.getAs[Long]("dst"), r.getAs[Long]("d2"), r.getAs[Long]("rank")))
      buf.synchronized { buf ++= rows }
    }
    q.awaitTermination(180000)
    def key(r: Row) = (r.getAs[Long]("src"), r.getAs[Long]("dst"),
      r.getAs[Long]("d2"), r.getAs[Long]("rank"))
    val batch = Streaming.queries("stream_nng_upsert")(spark, sf)
      .collect().map(key)
    assert(batch.nonEmpty, "no placement edges at this SF — vacuous")
    // Placement is per-query independent, so the union of micro-batch
    // placements must equal the one-shot batch frame row-for-row.
    assert(buf.toSet == batch.toSet,
      s"streaming placement diverged from the batch twin: " +
      s"only-stream ${(buf.toSet -- batch).take(3)}, only-batch ${(batch.toSet -- buf).take(3)}")
    // Every new vector placed with a full top-K out-edge set.
    val perQ = batch.groupBy(_._1).values.map(_.length).toSet
    assert(perQ == Set(graft.ops.NnGraph.K),
      s"placement edge counts per new vector: $perQ != {${graft.ops.NnGraph.K}}")
    // Zero streaming state: placement must carry no state stores — the
    // graph/entries/grid are batch artifacts staged before the stream.
    val stateRows = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal)
    assert(stateRows.isEmpty || stateRows.forall(_ == 0L),
      s"placement leg holds streaming state: $stateRows")
  }

  test("semantic near-dup gate (stream_semantic_gate): stream ≡ batch, true pairs only, zero state") {
    // At toy SFs the corpus's cross-slice near-dups all sit at sim
    // 0.41-0.49, far below the gate's 0.9-recall-at-0.9 design point —
    // the banding honestly catches none (0 rows at sf0.001/sf0.01, a
    // correct 0≡0 hash). Drive the spec at sf0.1 where the gate flags
    // real pairs, so stream ≡ batch is non-vacuous.
    val dir = "/root/testdata/sf0.1"
    val q = Streaming.semanticGateStream(spark, dir).writeStream
      .format("memory").queryName("stream_semgate")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    def key(r: Row) = (r.getAs[Long]("vec_id"), r.getAs[Long]("match_id"),
      r.getAs[Double]("sim"))
    val streamed = spark.table("stream_semgate").collect().map(key).toSet
    val batch = Streaming.queries("stream_semantic_gate")(spark, dir)
      .collect().map(key)
    assert(batch.nonEmpty, "no flagged near-dups at sf0.1 — vacuous")
    assert(streamed == batch.toSet,
      s"streaming gate diverged: only-stream ${(streamed -- batch).take(3)}, " +
      s"only-batch ${(batch.toSet -- streamed).take(3)}")
    // Every flagged pair is a verified near-dup of a CORPUS vector by
    // an INCOMING vector — the gate's contract.
    assert(batch.forall(_._3 >= 0.4))
    assert(batch.forall(t => t._1 % 20 == 0 && t._2 % 20 != 0))
    // Zero streaming state: geometry/planes/band table are staged
    // batch artifacts; the pair dedup is the stateless first-match rule.
    val stateRows = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal)
    assert(stateRows.isEmpty || stateRows.forall(_ == 0L),
      s"semantic gate holds streaming state: $stateRows")
  }

  test("streaming decontamination gate: stream ≡ batch ≡ the batch sweep, zero state") {
    import org.apache.spark.sql.functions._
    val q = Streaming.decontStream(spark, sf).writeStream
      .format("memory").queryName("stream_decont")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    def key(r: Row) = (r.getAs[Long]("doc_id"), r.getAs[Long]("probe_id"),
      r.getAs[Double]("jaccard"))
    val streamed = spark.table("stream_decont").collect().map(key).toSet
    val batch = Streaming.queries("stream_decontaminate")(spark, sf)
      .collect().map(key).toSet
    assert(batch.nonEmpty, "no flagged pairs at this SF — vacuous")
    assert(streamed == batch, "streaming gate diverged from the batch twin")
    // The gate's per-row-signature + broadcast plan must reproduce the
    // batch sweep (aggregate signature table + exploded band join)
    // EXACTLY — that equality is what lets them share one oracle.
    val sweep = graft.ops.TextAnalysis.queries("text_fuzzy_decontaminate")(spark, sf)
      .collect().map(key).toSet
    assert(batch == sweep,
      s"gate != sweep: only-gate ${(batch -- sweep).take(3)}, only-sweep ${(sweep -- batch).take(3)}")
    // Stateless: an ingest gate must carry no state stores.
    val progresses = q.recentProgress
    assert(progresses.nonEmpty)
    assert(progresses.forall(_.stateOperators.isEmpty),
      "decontamination gate must run with zero state-store operators")
    info(s"${batch.size} flagged pairs, stream ≡ batch ≡ sweep")
  }

  test("serving-rate harness: per-micro-batch latencies for the indexed serve") {
    // The bench's serving block (r14 verdict #7) in miniature: 3 timed
    // micro-batches of 8 queries through the MemoryStream-driven
    // stored-IVF serve. Pins the harness contract — one latency per timed
    // batch, all positive — so a broken serving path fails the suite,
    // not just the bench artifact.
    val lats = graft.streaming.Streaming.serveIvfRate(spark, sf, nBatches = 3, batchSize = 8)
    assert(lats.length == 3)
    assert(lats.forall(l => l > 0.0 && l < 120.0), s"implausible latencies: $lats")
    info(f"micro-batch latencies: ${lats.map(l => f"$l%.3f").mkString(", ")} s")
  }
}
