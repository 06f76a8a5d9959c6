package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the one session policy, the one listener, the one query
  * registry and the one hash family single: a new main builds its
  * session through `tools.LocalSession`, meters through `tools.Meter`
  * and selects queries by `QuerySpec` tag, and the MinHash, SimHash and
  * seed operators hash only with the oracle-checked md5-60 and id
  * hashes, never through their own copies. An operator, stream or
  * function that nothing in `src/main` calls does not stay behind. A
  * frame is cached or checkpointed only through `CheckpointBridge`.
  */
class SourceGuardSpec extends AnyFunSuite {

  /** (file, line) of every non-comment `src/main` line, in file order,
    * indentation kept. */
  private lazy val codeLines: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root")
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala
        .filter { l => val t = l.trim; !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*") }
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

  test("one materialization policy: frames cache and checkpoint only through CheckpointBridge") {
    // the sites allowed per file, and why each caches or checkpoints itself
    val allowed = Map(
      "graft/operators/RddKernel.scala" -> (2 ->
        ("RddKernel.hold caches a kernel's blocks until close(), and RddKernel.checkpoint cuts " +
          "an iterative kernel's RDD lineage; kernels are RDD code")),
      "graft/sources/UrlReader.scala" -> (1 ->
        "the url cache: three passes read it, and Pipeline.download frees it after the write"),
      "graft/operators/Similarity.scala" -> (1 ->
        "kcenterSelect's driver loop runs k collects over one cached base and returns no frame"))
    val bridge = "org/apache/spark/sql/graftbridge/CheckpointBridge.scala"
    val sites = codeLines.filter { case (f, l) =>
      f != bridge && """\.(localCheckpoint|persist|cache)\(""".r.findFirstIn(l).isDefined
    }
    val perFile = sites.groupBy(_._1).map { case (f, ls) => f -> ls.size }
    val unexplained = sites.filterNot { case (f, _) => perFile(f) <= allowed.get(f).fold(0)(_._1) }
    assert(unexplained.isEmpty,
      s"materialize through CheckpointBridge (localCheckpointOver for a shared frame): $unexplained")
    val stale = allowed.collect { case (f, (n, _)) if perFile.getOrElse(f, 0) != n => s"$f: $n" }
    assert(stale.isEmpty, s"allow-listed sites now gone: $stale")
    val flags = codeLines.filter { case (_, l) => """\bmaterialize\w*\s*:\s*Boolean""".r.findFirstIn(l).isDefined }
    assert(flags.isEmpty, s"one code path per operator, not a materialize flag: $flags")
  }

  test("kernels cache and aggregate only through RddKernel's blocks") {
    val kernelFiles = codeLines.collect { case (f, l) if l.contains("extends RddKernel") => f }.toSet
    assert(kernelFiles == Set("graft/operators/Dedup.scala", "graft/operators/Similarity.scala",
      "graft/operators/Graphs.scala"), s"the three kernels: $kernelFiles")
    val aggregations = codeLines.filter { case (f, l) =>
      kernelFiles(f) && """\.(combineByKey|reduceByKey|aggregateByKey|groupByKey)\b""".r.findFirstIn(l).isDefined
    }
    assert(aggregations.isEmpty, s"aggregate with RddKernel.combine (one block per map/reduce pair): $aggregations")
    // every kernel class body, from its `extends RddKernel` line to its closing brace
    val bodies = for {
      f <- kernelFiles.toSeq
      ls = codeLines.filter(_._1 == f).map(_._2).toIndexedSeq
      i <- ls.indices if ls(i).contains("extends RddKernel")
      l <- {
        var depth = 0
        var j = i
        do {
          depth += ls(j).count(_ == '{') - ls(j).count(_ == '}')
          j += 1
        } while (j < ls.size && (depth > 0 || !ls.slice(i, j).exists(_.contains('{'))))
        ls.slice(i, j)
      }
    } yield f -> l
    assert(bodies.exists(_._2.contains("def ")), s"kernel bodies found: ${bodies.size} lines")
    val caches = bodies.filter { case (_, l) => """\.(persist|cache|localCheckpoint)\(""".r.findFirstIn(l).isDefined }
    assert(caches.isEmpty, s"cache with RddKernel.hold and cut lineage with RddKernel.checkpoint: $caches")
  }

  test("one capped-bucket contract: no hand-written bucket count compared with a cap in graft/operators") {
    val helpers = Set("bucketSizes", "cappedBuckets", "bucketPairs", "pairWork", "bucketProfile")
    val Def = """\s*(?:private\[\w+\]\s+)?def\s+(\w+).*""".r
    def indent(l: String) = l.length - l.dropWhile(_ == ' ').length
    val files = codeLines.filter(_._1.startsWith("graft/operators/"))
      .groupBy(_._1).map { case (f, ls) => f -> ls.map(_._2).toIndexedSeq }
    // the helper's own bodies in Dedup, found by indentation
    val dedup = files("graft/operators/Dedup.scala")
    val helperLines = dedup.indices.flatMap { i =>
      dedup(i) match {
        case Def(name) if helpers(name) =>
          val end = dedup.indexWhere(m => m.trim.nonEmpty && indent(m) <= indent(dedup(i)), i + 1)
          i until (if (end < 0) dedup.length else end)
        case _ => Nil
      }
    }.toSet
    assert(helpers.forall(h => helperLines.exists(dedup(_).contains(s"def $h("))),
      s"helper bodies found: ${helperLines.toSeq.sorted.map(dedup)}")
    val Count = """groupBy\(.*\.agg\(count\(.*?\.as\("(\w+)"\)""".r
    val handWritten = for {
      (f, ls) <- files.toSeq
      alias <- ls.flatMap(l => Count.findAllMatchIn(l).map(_.group(1))).distinct
      compared = ("col\\(\"" + alias + "\"\\)\\s*(<=|>=|<|>)\\s*(?:lit\\()?(\\w+)").r
      i <- ls.indices if !(f == "graft/operators/Dedup.scala" && helperLines(i))
      m <- compared.findAllMatchIn(ls(i)) if "(?i)cap|max".r.findFirstIn(m.group(2)).isDefined
    } yield s"$f: ${ls(i).trim}"
    assert(handWritten.isEmpty,
      s"cap buckets with Dedup.cappedBuckets / bucketPairs / bucketProfile / pairWork: $handWritten")
  }

  test("every public def of an operator, streaming or function object is called from src/main") {
    // why each stays although no src/main line outside its own body names it
    val allowed = Map(
      "StatsStream.start" ->
        "the paper's per-shard stats stream (SURVEY S12, A6, A7); PipelineSpec drives it",
      "Maintenance.compactParquet" ->
        "the small-file compaction entry point; only its own per-leaf recursion calls it",
      "Maintenance.upsertParquet" ->
        "in-place MERGE over a parquet dir; MaintenanceSpec covers it, no flag calls it yet",
      "Maintenance.zOrderWrite" ->
        "the z-order layout pass over zOrderValue; MaintenanceSpec covers it, no flag calls it yet",
      "Dedup.derivedBands" ->
        "advisory band count for minhashRecallProfile's bandsList; DedupSpec covers it",
      "Dedup.incrementalExact" ->
        "exact daily-ingest dedup; DedupSpec covers it, dedup_incremental runs the MinHash twin",
      "Dedup.commitFingerprints" ->
        "the commit half of incrementalExact; DedupSpec covers it")
    val files = codeLines.groupBy(_._1).map { case (f, ls) => f -> ls.map(_._2).toIndexedSeq }
    def indent(l: String) = l.length - l.dropWhile(_ == ' ').length
    val TypeDecl =
      """\s*((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+|case\s+|implicit\s+)*)(object|class|trait)\s+(\w+).*""".r
    val Def = """\s*def\s+(\w+).*""".r
    // (file, object, name, body lines [from, until)): a def counts only
    // two spaces inside a public `object`, so locals, class members and
    // the members of anonymous interface implementations
    // (`new ThreadFactory { def newThread … }`) are out by construction
    val defs = for {
      (f, ls) <- files.toSeq
      if Seq("graft/operators/", "graft/streaming/", "graft/functions/").exists(f.startsWith)
      d <- {
        var open = List.empty[(Int, String, String, Boolean)] // (indent, kind, name, private)
        ls.indices.flatMap { i =>
          val l = ls(i)
          if (l.trim.isEmpty) None
          else {
            val ind = indent(l)
            open = open.dropWhile(_._1 >= ind)
            l match {
              case TypeDecl(mods, kind, name) =>
                open ::= ((ind, kind, name, mods.contains("private") || mods.contains("protected")))
                None
              case Def(name) if open.headOption.exists(o => o._2 == "object" && o._1 == ind - 2) &&
                  !open.exists(_._4) =>
                val end = ls.indexWhere(m => m.trim.nonEmpty && indent(m) <= ind, i + 1)
                Some((f, open.head._3, name, i, if (end < 0) ls.length else end))
              case _ => None
            }
          }
        }
      }
    } yield d
    assert(defs.size > 100, s"the declaration scan found only ${defs.size} defs")
    // named as Object.name anywhere, or bare in its own file or a file
    // importing the object's members, outside its own body
    def called(f: String, obj: String, name: String, from: Int, until: Int): Boolean = {
      val qualified = s"\\b$obj\\.$name\\b".r
      val bare = s"(?<![\\w.])$name\\b".r
      val importsAll = s"\\bimport\\s.*\\b$obj\\.(_|\\{)".r
      files.exists { case (g, ls) =>
        val importer = g == f || ls.exists(l => l.contains("import") && importsAll.findFirstIn(l).isDefined)
        ls.indices.exists { k =>
          val l = ls(k)
          l.contains(name) && !(g == f && k >= from && k < until) &&
            (qualified.findFirstIn(l).isDefined || importer && bare.findFirstIn(l).isDefined)
        }
      }
    }
    val uncalled = defs.collect {
      case (f, obj, name, from, until) if !called(f, obj, name, from, until) => s"$obj.$name"
    }.distinct.sorted
    assert(uncalled.filterNot(allowed.contains).isEmpty,
      s"public defs no src/main code calls: delete them or allow-list them with a reason: " +
        uncalled.filterNot(allowed.contains))
    assert(allowed.keySet.subsetOf(uncalled.toSet),
      s"allow-listed but now called or gone: ${allowed.keySet -- uncalled}")
  }
}
