package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Reachability ratchet: every public member of a `src/main` object is
  * referenced from `src/main` code outside its own definition, or from
  * `perfbench/`, or is on the keep-list below with its reason. A member
  * referenced only from the bodies of unreferenced members is itself
  * unreferenced, so a dead helper chain fails as a whole.
  *
  * References are by name: comments are stripped, string literals are
  * kept (some helpers are called only inside interpolated SQL, such as
  * `Dedup.seededHashSql`). A same-named identifier elsewhere counts as a
  * reference, so the check can miss dead code but never flags live code.
  */
class ReachabilitySpec extends org.scalatest.funsuite.AnyFunSuite {
  import ReachabilitySpec.Member

  /** `Owner.member` -> why it stays with no caller in main or perfbench. */
  private val keep = Map(
    "SentimentPipeline.runStreamingInference" -> "the paper's §3.2 live scoring loop",
    "TextFns.stripUrls" -> "reference form the clean-chain kernel specs compare against",
    "TextFns.stripPunct" -> "reference form the clean-chain kernel specs compare against",
    "TextFns.tokenize" -> "reference form the token kernel specs compare against",
    "TextFns.removeStopwords" -> "reference form the token kernel specs compare against",
    "TextFns.tokenId" -> "reference form the token-id kernel specs compare against",
    "Dedup.minHashSignatureComposable" -> "reference form the MinHash kernel spec compares against",
    "Dedup.simHashPairs" -> "one-line public entry over the SimHash pair code queries reach",
    "Graph.pageRank" -> "one-line public entry over the PageRank code queries reach",
    "Graph.personalizedPageRank" -> "one-line public entry over the PPR code queries reach",
    "Bench.canaryNormalizedMedians" -> "Bench's canary estimator, pinned by BenchLineSpec",
    "Bench.canaryNormalizedMediansMarked" -> "Bench's canary estimator, pinned by BenchLineSpec")

  /** Names the compiler or the JVM calls without a spelled reference. */
  private val implicitlyCalled = Set("main", "apply", "unapply")

  /** `src` with comments blanked (newlines kept, so line numbers hold) and
    * string and char literals kept verbatim. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    def copyTo(j: Int): Unit = { out.append(src.substring(i, j)); i = j }
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src(j) == '"') j += 1
        copyTo(j)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, n))
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        copyTo(i + 3)
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' && src(i + 3) == '\'') {
        copyTo(i + 4)
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        var j = i
        do {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        } while (depth > 0 && j < n)
        out.append("\n" * src.substring(i, math.min(j, n)).count(_ == '\n'))
        i = j
      } else copyTo(i + 1)
    }
    out.toString
  }

  private def scalaFiles(root: String): Seq[(Path, IndexedSeq[String])] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(f => f -> stripComments(new String(Files.readAllBytes(f), "UTF-8"))
        .split("\n", -1).toIndexedSeq)

  private val Decl = ("""^(\s*)((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|""" +
    """implicit\s+|final\s+|lazy\s+|sealed\s+|abstract\s+|@\w+\s+)*)""" +
    """(?:def|val|var|case\s+class|case\s+object|class|object|trait)\s+([A-Za-z_]\w*)""").r
  private val Hidden = "private|protected|override|implicit".r
  /** Block openers and closers, and what ends a pending type header. */
  private val Token = ("""\b(object|class|trait)\s+([A-Za-z_]\w*)|\b(?:def|val|var)\b|[{}]|""" +
    """(?<![=<>!:+\-*/])=(?![=>])""").r
  private val Ident = """[A-Za-z_]\w*""".r

  /** Public members whose enclosing block is an object's body. */
  private def members(file: Path, lines: IndexedSeq[String]): Seq[Member] = {
    var stack = List.empty[Option[String]] // Some(name) for an object's body
    var pending = Option.empty[Option[String]]
    val out = Seq.newBuilder[Member]
    lines.indices.foreach { i =>
      for (owner <- stack.headOption.flatten; m <- Decl.findPrefixMatchOf(lines(i))
           if Hidden.findFirstIn(m.group(2)).isEmpty && !implicitlyCalled(m.group(3))) {
        val indent = m.group(1).length
        val end = (i + 1 until lines.length).find { j =>
          val l = lines(j)
          l.trim.nonEmpty && l.takeWhile(_ == ' ').length <= indent
        }.getOrElse(lines.length)
        out += Member(file, owner, m.group(3), i until end)
      }
      Token.findAllMatchIn(lines(i)).foreach { t =>
        if (t.group(1) != null) pending = Some(Option.when(t.group(1) == "object")(t.group(2)))
        else if (t.matched == "{") { stack = pending.flatten :: stack; pending = None }
        else if (t.matched == "}") stack = stack.drop(1)
        else pending = None
      }
    }
    out.result()
  }

  private lazy val mainFiles = scalaFiles("src/main/scala")
  private lazy val declared = mainFiles.flatMap { case (f, ls) => members(f, ls) }

  /** Members unreferenced once the bodies of unreferenced members are cut,
    * iterated to a fixpoint. */
  private lazy val unreferenced: Seq[Member] = {
    val benchNames = scalaFiles("perfbench/src")
      .flatMap(_._2).flatMap(Ident.findAllIn).toSet
    // name -> every (file, line) where it occurs
    val occurrences = (for {
      (f, ls) <- mainFiles
      (l, i) <- ls.zipWithIndex
      name <- Ident.findAllIn(l)
    } yield name -> (f, i)).groupMap(_._1)(_._2)
    var dead = Set.empty[Member]
    var changed = true
    while (changed) {
      val next = declared.filterNot(m => keep.contains(m.key) || benchNames(m.name) ||
        occurrences.getOrElse(m.name, Nil).exists { case (f, i) =>
          !m.covers(f, i) && !dead.exists(_.covers(f, i))
        }).toSet
      changed = next != dead
      dead = next
    }
    declared.filter(dead)
  }

  test("every public object member in src/main is reached from main, perfbench or the keep-list") {
    assert(mainFiles.size > 50, "source tree not found from the working directory")
    assert(declared.size > 300, s"only ${declared.size} members found; the scanner is broken")
    if (unreferenced.nonEmpty)
      fail(s"${unreferenced.size} members no main or perfbench code reaches:\n" +
        unreferenced.mkString("\n"))
  }

  test("every keep-list entry names a member that still exists") {
    val stale = keep.keySet -- declared.map(_.key)
    assert(stale.isEmpty, s"keep-list entries with no such member: ${stale.toSeq.sorted}")
  }
}

object ReachabilitySpec {
  /** A member declaration: `lines` is its definition, signature and body. */
  private final case class Member(file: Path, owner: String, name: String, lines: Range) {
    def key = s"$owner.$name"
    def covers(f: Path, i: Int) = file == f && lines.contains(i)
    override def toString = s"$file:${lines.start + 1} $key"
  }
}
