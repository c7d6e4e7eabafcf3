package graft

import graft.util.{Persist, Staged}

/** The staged-artifact registry's contract ([[graft.util.Staged]]):
  * one build per (scope, name, dir), rebuilt when the dir or its parquet
  * content changes, released when replaced or evicted, never left behind
  * by a failed build. */
class StagedSpec extends SparkSpec {
  private def tableDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-staged-spec").toString
    spark.range(5).write.parquet(s"$d/t.parquet")
    d
  }
  private def rddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
  private def stat(name: String): (Int, Long) =
    Staged.stats.find(_._1 == name).map(s => (s._2, s._4)).getOrElse((0, 0L))

  test("an entry builds once and counts its hits") {
    val dir = tableDir()
    var builds = 0
    def get(): Int = Staged.get(spark, "spec.once", dir) { builds += 1; builds }
    assert(Seq(get(), get(), get()) == Seq(1, 1, 1))
    assert(stat("spec.once") == (1, 2L))
  }

  test("a rewritten source or another dir rebuilds and releases the old value") {
    val dir = tableDir()
    def frame(d: String) = Staged.get(spark, "spec.frame", d)(
      Persist.stage(spark.range(10).toDF("id")))
    val first = frame(dir)
    assert(frame(dir) eq first)
    spark.range(3).write.mode("append").parquet(s"$dir/t.parquet")
    val second = frame(dir)
    assert(second ne first, "a changed parquet fingerprint must rebuild")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(rddIds(first).nonEmpty && rddIds(first).forall(id => !persisted.contains(id)),
      "the replaced value's staged blocks must be released")
    val other = frame(tableDir())
    assert(other ne second)
    assert(frame(dir) ne second, "one live entry per (scope, name): switching back rebuilds")
  }

  test("catalog writes are scoped by context, frames by session") {
    val dir = tableDir()
    var writes = 0
    var frames = 0
    val cold = spark.newSession()
    for (s <- Seq(spark, cold)) {
      Staged.get(s.sparkContext, "spec.catalog", dir) { writes += 1 }
      Staged.get(s, "spec.session", dir) { frames += 1 }
    }
    assert((writes, frames) == (1, 2))
  }

  test("a build that throws leaves no entry, and builds may nest") {
    val dir = tableDir()
    intercept[IllegalStateException] {
      Staged.get[Int](spark, "spec.fail", dir)(throw new IllegalStateException("boom"))
    }
    assert(Staged.get(spark, "spec.fail", dir)(7) == 7)
    val nested = Staged.get(spark, "spec.outer", dir) {
      Staged.get(spark, "spec.inner", dir)(20) + 1
    }
    assert(nested == 21)
  }

  test("concurrent callers share one build") {
    val dir = tableDir()
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Staged.get(spark, "spec.shared", dir) {
          Thread.sleep(200); builds.incrementAndGet()
        }
      }))
      assert(calls.map(_.get()).toSet == Set(1))
      assert(builds.get == 1)
    } finally pool.shutdown()
  }

  test("one session trains the full-grid IVF once for every IVF consumer") {
    // Per-JVM totals: read the change across one fresh session.
    val legacy = Seq("vs.ivfModel:full", "stream.searchIvf", "vs.plannerIvf")
    val names = "vs.ivfTrained" +: legacy
    val before = names.map(n => n -> stat(n)).toMap
    val fresh = spark.newSession()
    for (k <- Seq("vs_ivf_trained", "vs_ivf_delete", "stream_search_ivf", "vs_planned_route"))
      SparkEntry.queries(k)(fresh, sf).collect()
    val delta = names.map { n =>
      n -> (stat(n)._1 - before(n)._1, stat(n)._2 - before(n)._2) }.toMap
    assert(delta("vs.ivfTrained")._1 == 1, s"trained-IVF builds: $delta")
    assert(delta("vs.ivfTrained")._2 >= 2, s"trained-IVF hits: $delta")
    assert(legacy.map(delta(_)._1).sum == 0, s"a consumer trained its own IVF: $delta")
  }

  test("evictAll then a blanket unpersist: memoized keys rebuild, same answers") {
    // The failure this guards ("checkpoint block not found"): a memo
    // that outlives the unpersist of its localCheckpoint blocks serves
    // a frame that can never be recomputed.
    val keys = Seq("dedup_semantic", "vs_ivf_trained")
    def answers() = keys.map(k => SparkEntry.queries(k)(spark, sf).collect().map(_.toSeq).toSeq)
    val first = answers()
    Staged.evictAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(answers() == first)
  }
}
