package graft

import org.apache.spark.sql.functions._

import graft.operators.Sampling

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (0 until 2000).map(i => (i.toLong, if (i % 4 == 0) "en" else "de"))
    .toDF("id", "lang")

  test("deterministic: same input, same membership, across independent runs") {
    def draw() = Sampling.stratifiedSample(docs, "lang", "id", Map.empty, defaultFrac = 0.3)
      .select("id").collect().map(_.getLong(0)).toSet
    val a = draw()
    val b = draw()
    assert(a == b && a.nonEmpty)
    // rate lands near the target (hash-uniformity, not exactness)
    assert(math.abs(a.size / 2000.0 - 0.3) < 0.05, s"rate ${a.size / 2000.0}")
  }

  test("different salts draw independent samples over the same keys") {
    val a = Sampling.stratifiedSample(docs, "lang", "id", Map.empty, defaultFrac = 0.3, salt = "s1")
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.stratifiedSample(docs, "lang", "id", Map.empty, defaultFrac = 0.3, salt = "s2")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a != b, "distinct salts must not reproduce the same sample")
    // overlap near frac^2 expectation, not near-identical
    val overlap = (a & b).size.toDouble / 2000.0
    assert(overlap < 0.15, s"overlap $overlap suggests correlated samples")
  }

  test("stratified rates apply per stratum; membership is the documented formula") {
    val out = Sampling.stratifiedSample(docs, "lang", "id",
      Map("en" -> 0.5, "de" -> 0.1)).select("id", "lang").collect()
    val en = out.count(_.getString(1) == "en") / 500.0
    val de = out.count(_.getString(1) == "de") / 1500.0
    assert(math.abs(en - 0.5) < 0.1, s"en rate $en")
    assert(math.abs(de - 0.1) < 0.05, s"de rate $de")
    // fraction 0 / 1 edges are exact, not approximate
    assert(Sampling.stratifiedSample(docs, "lang", "id", Map("en" -> 1.0)).count() == 500)
    assert(Sampling.stratifiedSample(docs, "lang", "id", Map.empty, defaultFrac = 0.0).count() == 0)
  }

  test("hashTopK returns exactly k rows and plans as a bounded top-k, not a sort") {
    val sampled = Sampling.hashTopK(docs, "id", 50)
    assert(sampled.count() == 50)
    val plan = sampled.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"bounded top-k plan expected:\n$plan")
    // k >= population degrades to the full set
    assert(Sampling.hashTopK(docs, "id", 5000).count() == 2000)
  }

  test("mixtureSample derives rates from counts: scarcest domain binds at rate 1.0") {
    // a:1000 b:300 c:100 with target shares 50/25/25 -> M = min(1000/.5,
    // 300/.25, 100/.25) = 400 -> rates a=.2 b=1/3 c=1.0 (c binds, kept whole)
    val mixed = ((0 until 1000).map(i => (i.toLong, "a")) ++
      (1000 until 1300).map(i => (i.toLong, "b")) ++
      (1300 until 1400).map(i => (i.toLong, "c")) ++
      (1400 until 1500).map(i => (i.toLong, "z"))).toDF("id", "dom")
    val out = Sampling.mixtureSample(mixed, "dom", "id",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)).select("id", "dom").collect()
    val byDom = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byDom.getOrElse("z", 0) == 0, "mixture spec is a whitelist")
    assert(byDom("c") == 100, "binding domain keeps every row (rate exactly 1.0)")
    assert(math.abs(byDom("a") - 200) < 40, s"a kept ${byDom("a")} vs expected 200")
    assert(math.abs(byDom("b") - 100) < 30, s"b kept ${byDom("b")} vs expected 100")
    // deterministic across runs
    val again = Sampling.mixtureSample(mixed, "dom", "id",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)).select("id").collect().map(_.getLong(0)).toSet
    assert(again == out.map(_.getLong(0)).toSet)
  }

  test("clusterBalancedSample caps every cell, picks by hash order, no window sort") {
    // two well-separated 4-d clusters, 30 points each around (±10,0,0,0)
    val pts = (0 until 60).map { i =>
      val c = if (i < 30) 10.0 else -10.0
      (i.toLong, Array(c + (i % 5) * 0.1, (i % 3) * 0.1, 0.0, 0.0))
    }.toDF("id", "v")
    val out = Sampling.clusterBalancedSample(pts, "v", "id",
      nCells = 2, perCell = 7, lloydIters = 2)
    val rows = out.select("cell_id", "id", "rank")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    val byCell = rows.groupBy(_._1)
    assert(byCell.size == 2 && byCell.values.forall(_.length == 7),
      s"expected 7 rows from each of 2 cells, got ${byCell.view.mapValues(_.length).toMap}")
    // each cell's members come from one geometric cluster
    for ((_, members) <- byCell) {
      val sides = members.map(m => m._2 < 30).toSet
      assert(sides.size == 1, s"cell mixes clusters: $members")
    }
    // ranks are 1..perCell and deterministic across runs
    assert(byCell.values.forall(_.map(_._3).sorted.sameElements(1 to 7)))
    val again = Sampling.clusterBalancedSample(pts, "v", "id",
      nCells = 2, perCell = 7, lloydIters = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    assert(again == rows.toSet)
    // the pick is the bounded heap, not a per-cell window sort
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window-free plan expected:\n$plan")
    intercept[IllegalArgumentException] {
      Sampling.clusterBalancedSample(pts, "v", "id", nCells = 0, perCell = 1)
    }
  }

  test("weightedSample: keep rate tracks the score; 0 and 1 are exact") {
    val rows = ((0 until 1000).map(i => (i.toLong, 0.3)) ++
      (1000 until 2000).map(i => (i.toLong, 1.0)) ++
      (2000 until 3000).map(i => (i.toLong, 0.0))).toDF("id", "score")
    val kept = Sampling.weightedSample(rows, "id", "score")
      .collect().map(r => r.getLong(0)).toSet
    val lo = kept.count(_ < 1000)
    assert(kept.count(k => k >= 1000 && k < 2000) == 1000, "score 1.0 keeps every row")
    assert(!kept.exists(_ >= 2000), "score 0.0 keeps none")
    assert(math.abs(lo / 1000.0 - 0.3) < 0.06, s"score-0.3 stratum kept at ${lo / 1000.0}")
    // scale factor shifts the operating point; clamped at 1
    val boosted = Sampling.weightedSample(rows, "id", "score", scale = 4.0)
      .collect().map(_.getLong(0)).toSet
    assert(boosted.count(_ < 1000) > lo, "scale raises the keep rate")
    assert(kept.subsetOf(boosted), "same salt: higher threshold is a superset")
    intercept[IllegalArgumentException] {
      Sampling.weightedSample(rows, "id", "score", scale = 0.0)
    }
  }

  test("perKeyCap: hot key capped, small key kept whole, heap not window") {
    val rows = ((0 until 1000).map(i => (i.toLong, "big.example")) ++
      (1000 until 1003).map(i => (i.toLong, "small.example"))).toDF("id", "host")
    val out = Sampling.perKeyCap(rows, "host", "id", cap = 5)
    val byKey = out.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1)
    assert(byKey("big.example").length == 5, "hot key capped at 5")
    assert(byKey("small.example").length == 3, "under-cap key kept whole")
    assert(byKey("small.example").map(_._3).sorted.sameElements(1 to 3))
    // deterministic across runs
    val again = Sampling.perKeyCap(rows, "host", "id", cap = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(again == byKey.values.flatten.toSet)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "bounded heap, not a per-key window sort")
    intercept[IllegalArgumentException] { Sampling.perKeyCap(rows, "host", "id", 0) }
  }

  test("temperatureSample: smallest domain keeps all; rates follow n^(alpha-1)") {
    // 1600 en / 400 de: rate_de = 1.0, rate_en = (1600/400)^(alpha-1)
    val df = (0 until 2000).map(i => (i.toLong, if (i < 1600) "en" else "de"))
      .toDF("id", "lang")
    val out = Sampling.temperatureSample(df, "lang", "id", alpha = 0.3)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byLang = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang("de") == 400, s"smallest domain keeps 100%, got $byLang")
    val expEn = math.pow(4.0, -0.7) // ≈ 0.379
    assert(math.abs(byLang("en") / 1600.0 - expEn) < 0.05,
      s"en rate ${byLang("en") / 1600.0} should track $expEn")
    // alpha = 1 keeps everything; invalid alpha rejected
    assert(Sampling.temperatureSample(df, "lang", "id", alpha = 1.0).count() == 2000)
    intercept[IllegalArgumentException] {
      Sampling.temperatureSample(df, "lang", "id", alpha = 0.0)
    }
  }

  test("dsirSample: target-like docs outscore off-target; exact integer log-weights") {
    // target vocabulary {aa bb cc}; off-target {xx yy zz}; raw holds both
    val raw = ((0 until 20).map(i => (i.toLong, "aa bb cc aa bb")) ++
      (100 until 120).map(i => (i.toLong, "xx yy zz xx yy"))).toDF("doc_id", "text")
    val target = (0 until 10).map(i => (1000L + i, "aa bb cc")).toDF("doc_id", "text")
    val out = Sampling.dsirSample(raw, target, "doc_id", "text",
      numBuckets = 64, k = 40).collect()
    assert(out.length == 40)
    // every target-vocab doc must rank above every off-target doc
    val (tgt, off) = out.partition(_.getLong(0) < 100L)
    assert(tgt.length == 20 && off.length == 20)
    assert(tgt.map(_.getLong(2)).min > off.map(_.getLong(2)).max,
      "target-like log-weights must dominate")
    // top-k boundary: k=5 keeps the 5 smallest doc_ids among the
    // (equal-score) target docs — the documented deterministic tiebreak
    val top5 = Sampling.dsirSample(raw, target, "doc_id", "text",
      numBuckets = 64, k = 5).collect().map(_.getLong(0)).toSeq
    assert(top5 == Seq(0L, 1L, 2L, 3L, 4L), s"tiebreak by doc_id: $top5")
    // deterministic across runs
    val again = Sampling.dsirSample(raw, target, "doc_id", "text",
      numBuckets = 64, k = 40).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("winsorize: values clamp to the group's sketch-quantile band; nulls pass through") {
    import spark.implicits._
    // Group A: 100 unit values 0..99 on a unit-width bin grid
    // (lo=0, hi=128, 128 buckets) — bins are exact, so p10 target =
    // ceil(0.1*100)=10 → bin 9 (cum 10), estimate = 9 + (10-9)/1 = 10.0;
    // p90 target = 90 → bin 89, estimate = 90.0. Group B scaled 0..990
    // by tens would leave the [0,128) domain, so use a SECOND group
    // with values 20..79 (60 rows): p10 target = 6 → estimate 26.0,
    // p90 target = 54 → estimate 74.0.
    val a = (0 until 100).map(i => ("A", i.toDouble, i))
    val b = (20 until 80).map(i => ("B", i.toDouble, 1000 + i))
    val df = (a ++ b).toDF("g", "v", "id")
    val out = Sampling.winsorize(df, "v", Seq("g"), lo = 0.0, hi = 128.0,
        numBuckets = 128, pLow = 0.1, pHigh = 0.9)
      .collect().map(r => (r.getString(0), r.getInt(2), r.getDouble(3))).toSeq
    val byA = out.filter(_._1 == "A")
    assert(byA.forall { case (_, id, w) =>
      w == math.min(math.max(id.toDouble, 10.0), 90.0) },
      s"group A clamps to [10, 90]: ${byA.filterNot { case (_, id, w) =>
        w == math.min(math.max(id.toDouble, 10.0), 90.0) }.take(5)}")
    val byB = out.filter(_._1 == "B")
    assert(byB.forall { case (_, id, w) =>
      w == math.min(math.max((id - 1000).toDouble, 26.0), 74.0) },
      "group B clamps to its OWN [26, 74] band")
    // null value stays null
    val withNull = Seq(("A", Option.empty[Double], 1), ("A", Some(5.0), 2))
      .toDF("g", "v", "id")
    val nOut = Sampling.winsorize(withNull, "v", Seq("g"), 0.0, 128.0, 128, 0.1, 0.9)
      .where(col("id") === 1).collect()
    assert(nOut.length == 1 && nOut(0).isNullAt(3), "null value must stay null")
  }

  test("deterministicShuffle: a true permutation, hash-ordered, stable across runs, salt-sensitive") {
    import spark.implicits._
    val df = (0L until 500L).map(id => (id, s"p$id")).toDF("id", "payload")
      .repartition(7) // multi-partition input: the rank must still be global
    val out = Sampling.deterministicShuffle(df, "id", "s1")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(out.map(_._2).sorted === (1L to 500L), "positions are exactly 1..n")
    // ground truth: sort by the same portable hash on the driver
    val expected = {
      val md = java.security.MessageDigest.getInstance("MD5")
      def h(id: Long): Long = {
        val hex = md.digest(s"s1:$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        java.lang.Long.parseLong(hex, 16)
      }
      (0L until 500L).sortBy(id => (h(id), id)).zipWithIndex
        .map { case (id, i) => (id, (i + 1).toLong) }.toMap
    }
    assert(out.toMap === expected, "order equals the portable-hash sort")
    val again = Sampling.deterministicShuffle(df, "id", "s1")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(again.toMap === out.toMap, "re-running reproduces the permutation")
    val other = Sampling.deterministicShuffle(df, "id", "s2")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(other !== out.toMap, "a different salt reshuffles")
  }
}
