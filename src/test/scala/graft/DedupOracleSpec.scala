package graft

import org.apache.spark.sql.Row

import graft.queries.QuerySpec

/** The DuckDB oracle inside tier-1 for the `Golden`-tagged queries
  * (those the MinHash-LSH kernel, the kNN kernel and the graph
  * kernel's connected components and triangle counts serve): each
  * query's sf0.001 result must equal its golden in
  * `src/test/resources/oracle/`, compared the way
  * `tools/selfcheck.py` compares (columns sorted by name, rows sorted,
  * exact values; a number equals a number of another width with the
  * same value).
  *
  * The goldens are DuckDB's results of the oracle SQL, never Spark's:
  * regenerate them with `tools/selfcheck.py --write-golden` (its
  * docstring shows the command). The other kNN-graph queries
  * (`emb_pagerank`, `emb_label_prop`, `emb_graph_suite`) are left out:
  * their oracles replay iteration chains over the kNN CTE, and
  * `emb_pagerank`'s did not finish in 500 s on DuckDB at sf0.001.
  */
class DedupOracleSpec extends SparkSpec {

  /** A cell as the comparison sees it. */
  private def norm(v: Any): Any = v match {
    case null => null
    case d: Double => if (d.isNaN) "NaN" else BigDecimal(d)
    case f: Float => if (f.isNaN) "NaN" else BigDecimal(f.toDouble)
    case n: java.lang.Number => BigDecimal(n.toString)
    case other => other.toString
  }

  private def cellOrder(x: Any, y: Any): Int = (x, y) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (a: BigDecimal, b: BigDecimal) => a.compare(b)
    case (a, b) => a.toString.compareTo(b.toString)
  }

  private val rowOrder: Ordering[Seq[Any]] = (x: Seq[Any], y: Seq[Any]) =>
    x.zip(y).iterator.map { case (a, b) => cellOrder(a, b) }.find(_ != 0).getOrElse(0)

  /** (sorted column names, rows over those columns, sorted). */
  private def table(cols: Seq[String], rows: Seq[Row]): (Seq[String], Seq[Seq[Any]]) = {
    val names = cols.sorted
    val idx = names.map(cols.indexOf(_))
    (names, rows.map(r => idx.map(i => norm(r.get(i)))).sorted(rowOrder))
  }

  for (q <- QuerySpec.tagged(QuerySpec.Golden)) test(s"$q matches its DuckDB golden at sf0.001") {
    val url = getClass.getResource(s"/oracle/$q.parquet")
    assert(url != null, s"no golden for $q: run tools/selfcheck.py --write-golden")
    val golden = spark.read.parquet(url.toString)
    val got = SparkEntry.queries(q)(spark, sf("sf0.001"))
    val (ec, er) = table(golden.columns.toSeq, golden.collect().toSeq)
    val (gc, gr) = table(got.columns.toSeq, got.collect().toSeq)
    assert(er.nonEmpty, s"the $q golden is empty, so an empty result would pass")
    assert(gc == ec, s"columns: got $gc, oracle $ec")
    assert(gr.size == er.size, s"rows: got ${gr.size}, oracle ${er.size}")
    val diff = gr.zip(er).indexWhere { case (g, e) => g != e }
    if (diff >= 0) fail(s"first differing row (sorted): got ${gr(diff)}, oracle ${er(diff)}")
  }
}
