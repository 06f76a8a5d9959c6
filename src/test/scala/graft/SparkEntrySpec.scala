package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** The query surface's own plumbing: the `t()` schema cache and the
  * temporary state a query leaves behind. */
class SparkEntrySpec extends SparkSpec {

  test("t(): a table rewritten at the same path is read with its new schema") {
    val dir = Files.createTempDirectory("graft_schema_cache").toString
    val path = s"$dir/tbl.parquet"
    spark.range(3).toDF("a").write.parquet(path)
    assert(SparkEntry.t(spark, dir, "tbl").columns.toSeq == Seq("a"))
    assert(SparkEntry.t(spark, dir, "tbl").columns.toSeq == Seq("a"), "cached read")
    spark.range(3).select(col("id").as("a"), (col("id") * 2).as("b"))
      .write.mode("overwrite").parquet(path)
    val again = SparkEntry.t(spark, dir, "tbl")
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.orderBy("a").collect().map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L))
  }

  test("dedup_incremental: a call leaves no graft_incr_idx* entry in java.io.tmpdir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def indexDirs(): Set[String] = {
      val s = Files.list(tmp)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_incr_idx")).toSet
      finally s.close()
    }
    val before = indexDirs()
    val rows = SparkEntry.queries("dedup_incremental")(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    assert((indexDirs() -- before).isEmpty, "the MinHash index dir is deleted")
  }
}
