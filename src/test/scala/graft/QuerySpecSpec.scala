package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QuerySpec

/** The query registry: one declaration per query, and the tag sets the
  * tools select by. */
class QuerySpecSpec extends AnyFunSuite {

  private val names = QuerySpec.all.map(_.name)

  test("names are unique") {
    assert(names.diff(names.distinct).isEmpty)
  }

  test("every query has oracle SQL") {
    val empty = QuerySpec.all.filter(_.oracle().trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"no oracle SQL: $empty")
  }

  test("queries and oracleSql are views of the same 184 names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(names.size == 184)
  }

  test("Headline holds the queries of Bench's compact line") {
    assert(QuerySpec.tagged(QuerySpec.Headline).toSet == Set(
      "q1_agg", "q4_join_multi", "q7_window_rank",
      "dedup_exact", "dedup_minhash_lsh", "dedup_snm_multipass",
      "dedup_edit_distance", "ann_bruteforce_topk", "emb_knn_graph_auto",
      "emb_pagerank", "emb_label_prop", "graph_suite",
      "txt_quality", "txt_tokens", "txt_canonical",
      "sketch_hll_distinct", "mm_image_meta", "evt_funnel"))
  }

  test("Golden tags exactly the queries with a golden in the test resources") {
    val dir = java.nio.file.Paths.get("src/test/resources/oracle")
    assert(java.nio.file.Files.isDirectory(dir), s"run from the project root: $dir")
    val goldens = dir.toFile.list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
    assert(QuerySpec.tagged(QuerySpec.Golden).toSet == goldens.toSet)
  }

  test("SPARK_GRAFT_ONLY: a known subset is selected, a typo or an empty list fails") {
    assert(QuerySpec.parseOnly(None).isEmpty)
    assert(QuerySpec.parseOnly(Some(" dedup_minhash_lsh, q1_agg ,")) ==
      Some(Set("dedup_minhash_lsh", "q1_agg")))
    val typo = intercept[IllegalArgumentException](
      QuerySpec.parseOnly(Some("q1_agg,dedup_minhash_lhs")))
    assert(typo.getMessage.contains("dedup_minhash_lhs"))
    assert(!typo.getMessage.contains("q1_agg"))
    intercept[IllegalArgumentException](QuerySpec.parseOnly(Some(" , ")))
  }

  test("requireKnown names every unknown query") {
    assert(QuerySpec.requireKnown(Seq("q1_agg")) == Seq("q1_agg"))
    val e = intercept[IllegalArgumentException](QuerySpec.requireKnown(Seq("q1", "emb_knn")))
    assert(e.getMessage.contains("q1, emb_knn"))
  }
}
