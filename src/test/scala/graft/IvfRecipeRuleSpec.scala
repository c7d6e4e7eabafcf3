package graft

import org.scalatest.funsuite.AnyFunSuite

/** "One IVF recipe", made mechanical: in product code (the `graft.tools`
  * mains aside) the int8 grid's scale formula — 127 over the max
  * |coordinate| — is spelled only inside the `quantize*` functions of
  * [[graft.ops.IvfIndex]], and the integer-Lloyd seed CTE (cid =
  * hash-coin row_number − 1) only inside
  * [[graft.ops.VectorSearch.ivfTrainSql]]. Comments are ignored. */
class IvfRecipeRuleSpec extends AnyFunSuite {
  private val gridRe = """127(?:\.0)?\s*\)?\s*/(?!/)""".r
  private val seedRe =
    """row_number\(\)\s*OVER\s*\(ORDER BY \$\{[^}]*hashCoinSql\([^)]*\)\}[^)]*\)\s*-\s*1""".r
  private val defRe = """\bdef\s+(\w+)""".r
  private val gridHome = "src/main/scala/graft/ops/IvfIndex.scala"
  private val seedHome = "src/main/scala/graft/ops/VectorSearch.scala"

  private def stripComments(src: String): String =
    src.replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("//[^\n]*", "")

  /** Names of the defs enclosing each match of `re` in `src` ("" when a
    * match precedes every def). */
  private def owners(src: String, re: scala.util.matching.Regex): Seq[String] = {
    val code = stripComments(src)
    re.findAllMatchIn(code).map { m =>
      defRe.findAllMatchIn(code.substring(0, m.start)).toSeq.lastOption
        .map(_.group(1)).getOrElse("")
    }.toSeq
  }

  /** `file: def` for each spelling of `re` outside `home`'s allowed defs. */
  private def offenders(re: scala.util.matching.Regex, home: String,
      allowed: String => Boolean): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = walk(new java.io.File("src/main/scala")).map(_.getPath)
      .filterNot(_.startsWith("src/main/scala/graft/tools/")).sorted
    assert(files.contains(home), s"$home not found under src/main/scala")
    files.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        java.nio.charset.StandardCharsets.UTF_8)
      owners(src, re).filterNot(d => p == home && allowed(d)).map(d => s"$p: def $d")
    }
  }

  test("the rules recognise both spellings and ignore comments") {
    val src = """def quantize(v: Column) = transform(v, x => round(x * lit(127.0) / m, 0))
      |// x * 127.0 / maxabs, only a comment
      |def grid = "list_transform(v, x -> CAST(round((x * 127.0) / maxabs) AS BIGINT))"
      |def update = "(2 * (s + 127 * n) + n) // (2 * n) - 127"
      |def seed = s\"\"\"c0 AS (SELECT CAST(row_number()
      |    OVER (ORDER BY ${graft.util.Det.hashCoinSql("vec_id")}, vec_id) - 1 AS INT) AS cid\"\"\"
      |def pq = s"row_number() OVER (ORDER BY ${graft.util.Det.hashCoinSql("vec_id")}, vec_id) AS rn"
      |""".stripMargin
    assert(owners(src, gridRe) == Seq("quantize", "grid"))
    assert(owners(src, seedRe) == Seq("seed"))
  }

  test("the int8 grid formula is spelled only in IvfIndex.quantize*") {
    val bad = offenders(gridRe, gridHome, _.startsWith("quantize"))
    assert(bad.isEmpty, s"int8 grid spelled outside IvfIndex.quantize: ${bad.mkString(", ")}")
  }

  test("the Lloyd seed CTE is spelled only in VectorSearch.ivfTrainSql") {
    val bad = offenders(seedRe, seedHome, _ == "ivfTrainSql")
    assert(bad.isEmpty, s"Lloyd seed CTE spelled outside ivfTrainSql: ${bad.mkString(", ")}")
  }
}
