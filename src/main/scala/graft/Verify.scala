package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=a,b,c — run a subset (builder-side iteration;
    // the driver never sets it, so the gate always runs everything).
    val only = graft.queries.QuerySpec.only
    val spark = graft.tools.LocalSession()
    new java.io.File(outDir).mkdirs()
    // per-query outcome: Right(rows written) | Left(error class) —
    // feeds the driver-scrapable trailing JSON line (r13 verdict #3:
    // three rounds of CORRECTNESS_rN.json = {} were a driver scrape
    // failure; the bench's compact stdout line demonstrably survives
    // the driver's 2000-char tail, so Verify now emits one too)
    val outcomes = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        name -> (try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // rows from the just-written single file: parquet count()
          // answers from row-group metadata, so this is cheap and
          // gives the scrape line real evidence (rows > 0), not just
          // "no exception"
          Right(spark.read.parquet(s"$outDir/$name").count())
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Left(e.getClass.getSimpleName)
        })
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // ---- driver-scrapable trailing line (r13 verdict #3) ----------------
    // Compact (counts + failed names only — must fit a 2000-char stdout
    // tail even after sbt's "[success]" line); the full per-query row
    // map goes to <outDir>/verify_summary.json. "written" = result
    // parquet produced with > 0 rows; the DuckDB value compare is the
    // driver's (and selfcheck.py's) job — this line exists so an empty
    // CORRECTNESS_rN.json is distinguishable from "Verify never ran".
    val written = outcomes.collect { case (n, Right(r)) if r > 0 => n }
    val empty = outcomes.collect { case (n, Right(0)) => n }
    val failed = outcomes.collect { case (n, Left(err)) => (n, err) }
    // name lists are capped so a mass failure can never push the line
    // past the driver's 2000-char stdout tail (the BENCH_r12/r13
    // lesson: a head-truncated JSON line parses as nothing)
    def arr(xs: Iterable[String]) = xs.take(10).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val compact =
      s"""{"metric":"verify","written":${written.size},"empty":${empty.size},""" +
        s""""failed":${failed.size},"oracle_sql":${SparkEntry.oracleSql.size},""" +
        s""""failed_names":${arr(failed.map(_._1))},"empty_names":${arr(empty)},""" +
        s""""out_dir":"$outDir","detail":"verify_summary.json"}"""
    val rowsJson = outcomes.map {
      case (n, Right(r)) => s"${q(n)}:$r"
      case (n, Left(err)) => s"${q(n)}:${q("ERR:" + err)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"),
      s"""{"sf_dir":"${sfDir.replace("\\", "\\\\")}","rows":$rowsJson,"line":${q(compact)}}""")
    println(compact)
    // shutdown hook re-print (the Bench pattern): sbt prints its own
    // [success] line after main returns; the hook fires later still,
    // making the compact line the literal LAST stdout line for
    // last-line and tail parsers alike
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      System.out.println(compact); System.out.flush()
    }))
    spark.stop()
  }
}
