package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions.col

/** No memo or stored index may outlive a change to its source: a dir
  * whose parquet files are rewritten in place must be answered from the
  * new files, in the same session, by both a memoized key
  * (`text_gopher_quality`, the gopher verdict frame) and a stored-index
  * key (`stream_search_stored`, the stored IVF tables). */
class StaleSourceSpec extends SparkSpec {
  private val rewritten = Seq("documents" -> "doc_id", "embeddings" -> "vec_id")
  private val keys = Seq("text_gopher_quality", "stream_search_stored")

  private def copyOf(root: Path, name: String): String = {
    val d = Files.createDirectories(root.resolve(name))
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, d.resolve(f.getName)))
    d.toString
  }

  private def answers(dir: String): Map[String, Seq[Seq[Any]]] =
    keys.map(k => k -> SparkEntry.queries(k)(spark, dir).collect().map(_.toSeq).toSeq).toMap

  test("memoized and stored artifacts follow a source rewritten in place") {
    val root = Files.createTempDirectory("graft-stale")
    val a = copyOf(root, "a")
    val b = copyOf(root, "b")
    // B: every 7th row of documents and embeddings dropped, each table
    // rewritten as one parquet file like the originals.
    for ((t, id) <- rewritten) {
      val tmp = root.resolve(s"tmp-$t").toString
      spark.read.parquet(s"$a/$t.parquet").filter(col(id) % 7 =!= 0)
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$b/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    val before = answers(a)
    for ((t, _) <- rewritten)
      Files.copy(Paths.get(s"$b/$t.parquet"), Paths.get(s"$a/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    val after = answers(a)
    val fromB = answers(b)
    val unchanged = keys.filter(k => before(k) == fromB(k))
    assert(unchanged.isEmpty, s"dropping rows left the answer unchanged: ${unchanged.mkString(", ")}")
    val stale = keys.filter(k => after(k) != fromB(k))
    assert(stale.isEmpty, s"served artifacts built from the old source: ${stale.mkString(", ")}")
  }
}
