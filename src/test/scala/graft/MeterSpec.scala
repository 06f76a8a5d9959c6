package graft

import graft.tools.{Meter, Profile}

/** The per-query record adds up: on real queries the construction
  * and action times span the wall, task time fits the cores, the
  * driver gap lies inside the wall; a throwing body gets no time; a
  * closed meter stops counting.
  */
class MeterSpec extends SparkSpec {

  private val queries = Seq("q1_agg", "q4_join_multi", "emb_pagerank")

  test("the split of three sf0.001 queries adds up to their wall") {
    val cores = spark.sparkContext.defaultParallelism
    Meter.using(spark) { meter =>
      val recs = queries.map { n =>
        n -> meter.measure(n)(SparkEntry.queries(n)(spark, sf("sf0.001")))(_.count())
      }
      for ((n, r) <- recs) {
        assert(r.status == "ok", s"$n ran")
        val t = r.time.get
        assert(math.abs(t.constructMs + t.actionMs - t.wallMs) <= 0.05 * t.wallMs,
          s"$n: construct ${t.constructMs} + action ${t.actionMs} vs wall ${t.wallMs}")
        assert(r.runMs <= t.wallMs * cores * 1.1, s"$n: Σrun ${r.runMs} ms over $cores cores")
        assert(t.gapMs >= 0 && t.gapMs <= t.wallMs, s"$n: gap ${t.gapMs} of wall ${t.wallMs}")
        assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= 1, s"$n: $r")
        assert(r.json.contains("\"wall_ms\":"), r.json)
      }
      // the summary line Profile closes with, built from these records
      val line = Profile.summary("sf0.001", queries, Seq(recs.toMap))
      val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      assert(Seq("bench_subset", "jobs", "task_cpu_s", "failed", "dir").forall(json.has), line)
      assert(queries.forall(q => json.get("bench_subset").get(q).asDouble > 0), line)
      assert(json.get("failed").size == 0, line)
    }
  }

  test("a body that throws is failed and gets no time") {
    Meter.using(spark) { meter =>
      val r = meter.measure("boom")(spark.range(10))(_ => throw new IllegalStateException("crash"))
      assert(r.status == "failed" && r.time.isEmpty)
      assert(!r.json.contains("wall_ms"), r.json)
      val line = Profile.summary("d", Seq("boom"), Seq(Map("boom" -> r), Map("boom" -> r)))
      assert(line.contains(""""bench_subset":{"boom":-1}""") && line.contains(""""failed":["boom"]"""), line)
    }
  }

  test("a closed meter's counters do not move when a later job runs") {
    val meter = Meter(spark)
    spark.range(0, 1000, 1, 4).selectExpr("id % 7 as k").groupBy("k").count().collect()
    val open = meter.totals()
    assert(open.jobs >= 1 && open.tasks >= 1, s"an open meter counts: $open")
    meter.close()
    spark.range(0, 1000, 1, 4).selectExpr("id % 7 as k").groupBy("k").count().collect()
    assert(meter.totals() == open)
  }
}
