package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the one session policy, the one listener, the one query
  * registry and the one hash family single: a new main builds its
  * session through `tools.LocalSession`, meters through `tools.Meter`
  * and selects queries by `QuerySpec` tag, and the MinHash, SimHash and
  * seed operators hash only with the oracle-checked md5-60 and id
  * hashes, never through their own copies.
  */
class SourceGuardSpec extends AnyFunSuite {

  /** (file, line) of every non-comment `src/main` line. */
  private lazy val codeLines: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root")
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.map(_.trim)
        .filter(l => !l.startsWith("*") && !l.startsWith("//") && !l.startsWith("/*"))
        .map(l => root.relativize(f).toString -> l)
    } finally files.close()
  }

  /** (file, line) of every non-comment `src/main` line containing `token`. */
  private def uses(token: String): Seq[(String, String)] = codeLines.filter(_._2.contains(token))

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

  test("a query name is a string literal only in its graft/queries declaration") {
    val names = graft.queries.QuerySpec.all.map(_.name).toSet
    // the untimed warm-up before the timed passes
    val warmUps = Set("graft/Bench.scala", "graft/tools/Profile.scala").map(_ -> "q1_agg")
    val outside = for {
      (f, l) <- codeLines if !f.startsWith("graft/queries/")
      n <- "\"([a-z0-9_]+)\"".r.findAllMatchIn(l).map(_.group(1))
      if names(n) && !warmUps((f, n))
    } yield s"$f: $n"
    assert(outside.isEmpty, s"select queries by QuerySpec tag, not by name: $outside")
  }

  test("one hash family: no portable… flag, no xxh64 in the MinHash, SimHash and seed code") {
    val flags = codeLines.filter { case (_, l) => """\bportable\w*\s*:\s*Boolean""".r.findFirstIn(l).isDefined }
    assert(flags.isEmpty, s"hash with the one oracle-checked family, not behind a flag: $flags")
    val hashFamily = Set("graft/operators/Dedup.scala", "graft/operators/Similarity.scala",
      "graft/operators/Sampling.scala")
    val xx = codeLines.filter { case (f, l) =>
      (f.startsWith("graft/plans/") || hashFamily(f)) && "(?i)xx(h|hash)64".r.findFirstIn(l).isDefined
    }
    assert(xx.isEmpty, s"xxh64 is not an oracle-checked hash: $xx")
  }
}
