package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the one session policy and the one listener single: a new
  * main builds its session through `tools.LocalSession` and meters
  * through `tools.Meter`, never through its own copies.
  */
class SourceGuardSpec extends AnyFunSuite {

  /** (file, line) of every non-comment `src/main` line containing `token`. */
  private def uses(token: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root")
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.map(_.trim)
        .filter(l => l.contains(token) && !l.startsWith("*") && !l.startsWith("//") &&
          !l.startsWith("/*"))
        .map(l => root.relativize(f).toString -> l)
    } finally files.close()
  }

  test("SparkSession.builder appears only in LocalSession and graft.Main") {
    val outside = uses("SparkSession.builder").filterNot { case (f, _) =>
      f == "graft/tools/LocalSession.scala" || f == "graft/Main.scala"
    }
    assert(outside.isEmpty, s"build the session with graft.tools.LocalSession: $outside")
  }

  test("addSparkListener appears only in the meter") {
    val outside = uses("addSparkListener").filterNot(_._1 == "graft/tools/Meter.scala")
    assert(outside.isEmpty, s"meter through graft.tools.Meter: $outside")
  }
}
