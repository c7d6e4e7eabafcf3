package graft

import org.scalatest.funsuite.AnyFunSuite

/** "One memo mechanism", made mechanical: product code reuses work only
  * through [[graft.util.Staged]], so no product file other than the
  * registry itself constructs a `ConcurrentHashMap` or a
  * `java.util.LinkedHashMap`. Three session-free memos are allow-listed
  * by name: `Tables.fanOut` (a split decision), `Streaming.tsTypeMemo`
  * (a parquet `ts` type) and `VectorSearch.w2vFrozenMemo` (the frozen
  * vocabulary array the `vs_ingest_w2v` oracle literal reads). */
class MemoRuleSpec extends AnyFunSuite {
  private val registry = "src/main/scala/graft/util/Staged.scala"
  private val allowed = Map(
    "src/main/scala/graft/Tables.scala" -> Set("fanOut"),
    "src/main/scala/graft/streaming/Streaming.scala" -> Set("tsTypeMemo"),
    "src/main/scala/graft/ops/VectorSearch.scala" -> Set("w2vFrozenMemo"))
  private val ctor =
    """new\s+(?:java\.util\.concurrent\.)?ConcurrentHashMap\b|new\s+java\.util\.LinkedHashMap\b"""
  private val ctorRe = ctor.r
  private val namedRe = ("""val\s+(\w+)\s*=\s*(?:""" + ctor + ")").r

  /** Memo maps in `src` that no allow-listed `val` name accounts for. */
  private def unlisted(src: String, names: Set[String]): Int =
    ctorRe.findAllMatchIn(src).size -
      namedRe.findAllMatchIn(src).count(m => names(m.group(1)))

  test("the rule recognises a memo map, allow-listed or not") {
    val src = """private val fanOut =
      |    new java.util.concurrent.ConcurrentHashMap[String, Int]()
      |  private val seen = new java.util.LinkedHashMap[String, Int](16, 0.75f, true)""".stripMargin
    assert(unlisted(src, Set("fanOut")) == 1)
    assert(unlisted(src, Set("fanOut", "seen")) == 0)
  }

  test("no product file but graft.util.Staged constructs a memo map") {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = walk(new java.io.File("src/main/scala")).map(_.getPath).sorted
    assert(files.contains(registry), s"$registry not found under src/main/scala")
    val offenders = files.filterNot(_ == registry).flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        java.nio.charset.StandardCharsets.UTF_8)
      val n = unlisted(src, allowed.getOrElse(p, Set.empty))
      if (n > 0) Some(s"$p: $n") else None
    }
    assert(offenders.isEmpty,
      s"memo maps outside graft.util.Staged (use Staged.get): ${offenders.mkString(", ")}")
  }
}
