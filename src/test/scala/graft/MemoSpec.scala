package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** [[SessionMemo]]: one build per (session, dir, params), one
  * `buildSeconds` entry per parameter set, nested builds across memos.
  * Runs on the shared SparkSpec session and never stops it (the other
  * suites in the forked JVM share its SparkContext), so the stopped-session
  * sweep is not exercised here. */
class MemoSpec extends SparkSpec {

  /** A memo plus a count of the builds it ran. */
  private final class Counted(label: String) {
    val memo = SessionMemo[String](label)
    var builds = 0
    def apply(s: SparkSession, dir: String, params: Any*): String =
      memo(s, dir, params: _*) { builds += 1; s"$label#$builds" }
  }

  test("one build per (session, dir, params) across repeated calls") {
    val m = new Counted("memoSpec.once")
    val first = m(spark, "/d", 3)
    assert((1 to 5).map(_ => m(spark, "/d", 3)).forall(_ eq first))
    assert(m.builds == 1)
    m(spark, "/other", 3)
    assert(m.builds == 2, "a second dir is a distinct key")
  }

  test("a new session is a distinct key, builds again and records a new value") {
    val m = new Counted("memoSpec.session")
    m(spark, "/d")
    val v0 = SessionMemo.buildSeconds.get("memoSpec.session").asInstanceOf[AnyRef]
    val other = spark.newSession()
    assert(m(other, "/d") == "memoSpec.session#2")
    assert(m(spark, "/d") == "memoSpec.session#1")
    assert(m.builds == 2)
    val v1 = SessionMemo.buildSeconds.get("memoSpec.session").asInstanceOf[AnyRef]
    assert(v1 ne v0, "each build puts a new boxed value")
  }

  test("distinct params give distinct builds and distinct buildSeconds entries") {
    val m = new Counted("memoSpec.params")
    val a = m(spark, "/d", 0, 16, 16, 2)
    val b = m(spark, "/d", 1, 16, 16, 2)
    assert(a != b)
    assert(m(spark, "/d", 0, 16, 16, 2) eq a)
    assert(m.builds == 2)
    val keys = SessionMemo.buildSeconds.keySet().asScala.filter(_.startsWith("memoSpec.params"))
    assert(keys == Set("memoSpec.params(0,16,16,2)", "memoSpec.params(1,16,16,2)"))
    assert(SessionMemo.recordKey("tradePairs", Nil) == "tradePairs")
  }

  test("a build that calls a second memo's apply completes") {
    val inner = new Counted("memoSpec.inner")
    val outer = SessionMemo[String]("memoSpec.outer")
    val v = outer(spark, "/d")(inner(spark, "/d") + "+outer")
    assert(v == "memoSpec.inner#1+outer")
    assert(outer(spark, "/d")("rebuilt") == v)
    assert(inner.builds == 1)
    assert(SessionMemo.buildSeconds.containsKey("memoSpec.outer"))
    assert(SessionMemo.buildSeconds.containsKey("memoSpec.inner"))
  }

  /** Lines of src/main matching `pattern` outside the `allowed` files,
    * comment lines included only when `inComments`. */
  private def sourceHits(pattern: scala.util.matching.Regex, allowed: Set[String],
                         inComments: Boolean): Seq[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, "source tree not found from the working directory")
    for {
      f: Path <- files
      if !allowed(f.getFileName.toString)
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if inComments || (!code.startsWith("//") && !code.startsWith("*"))
      if pattern.findFirstIn(code).nonEmpty
    } yield s"$f:${n + 1}"
  }

  test("ConcurrentHashMap is constructed only in SessionMemo and the two per-JVM caches") {
    val offending = sourceHits("""new\s+(java\.util\.concurrent\.)?ConcurrentHashMap\b""".r,
      Set("SessionMemo.scala", "Tables.scala", "Similarity.scala"), inComments = false)
    assert(offending.isEmpty, offending.mkString("; "))
  }

  test("the staged-layout dir tag is spelled only in Staged") {
    val offending = sourceHits(java.util.regex.Pattern.quote("[^A-Za-z0-9]").r,
      Set("Staged.scala"), inComments = true)
    assert(offending.isEmpty, offending.mkString("; "))
  }

  test("no on-disk layout marker decides a rebuild") {
    val offending = sourceHits("_PATCHED|_COMPACTED|_SKETCHED".r, Set.empty, inComments = true)
    assert(offending.isEmpty, offending.mkString("; "))
  }
}
