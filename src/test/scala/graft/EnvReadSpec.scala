package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** No production behaviour reads an env var or a JVM system property: every
  * read in src/main/scala must be on this allowlist of deployment settings.
  * A new knob fails here instead of shipping silently. */
class EnvReadSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** (file name, key) pairs allowed to be read. */
  private val allowed = Set(
    "LocalSession.scala" -> "SPARK_GRAFT_CPUS",
    "Bench.scala" -> "SPARK_GRAFT_SF_DIR",
    "Bench.scala" -> "SPARK_GRAFT_WARM_DIR")

  private val read = """sys\.env|System\.getenv|sys\.props|System\.getProperty""".r
  private val key = "\"([^\"]*)\"".r

  test("env vars and system properties are read only on the allowlist") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, "source tree not found from the working directory")
    val offending = for {
      f: Path <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && read.findFirstIn(code).nonEmpty
      k = key.findFirstMatchIn(code).map(_.group(1)).getOrElse("<no literal key>")
      if !allowed(f.getFileName.toString -> k)
    } yield s"${f}:${n + 1}: $k"
    assert(offending.isEmpty, offending.mkString("; "))
  }
}
