package graft

/** Physical-plan audits: the 100 TB design assertions, checked on the
  * actual executed plans. These catch regressions like a filter that
  * stops reaching the parquet scan or a dimension join that silently
  * becomes a shuffle join.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("q2: filter and projection are pushed to the parquet scan") {
    val p = plan("q2_filter_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThan(l_shipdate") || p.contains("IsNotNull(l_shipdate"), p)
    // column pruning: scan schema carries only the 5 needed columns
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_comment") && !p.contains("l_tax"), "unneeded columns pruned")
  }

  test("q3/q4: dimension joins broadcast, no shuffle of the small side") {
    assert(plan("q3_join_broadcast").contains("BroadcastHashJoin"))
    val p4 = plan("q4_join_multi")
    assert(p4.contains("BroadcastHashJoin"), "nation/region joins broadcast")
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q1_agg")
    assert(p.contains("partial_"), "HashAggregate runs in partial mode before exchange")
  }

  test("ann brute force: corpus scanned once, queries broadcast") {
    val p = plan("ann_bruteforce_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side broadcast:\n$p")
  }

  test("ann ivf: no single-partition exchange in the query plan") {
    // centroid training runs as separate tiny jobs; the returned plan
    // (assign → broadcast probe join → bounded top-k) must not funnel
    // the corpus through one task
    val p = plan("ann_ivf_topk")
    assert(!p.contains("Exchange SinglePartition"), s"single-partition exchange:\n$p")
    assert(p.contains("nearest_centroid"), "narrow literal-matrix assignment present")
    assert(p.contains("BroadcastExchange"), "probes broadcast to the corpus side")
  }

  test("runningSum: output actually spans multiple partitions (no one-task funnel)") {
    // the prefix-sum lives in an RDD lineage the SQL plan string can't
    // show, so assert the distribution property directly: the computed
    // frame keeps the range-partitioned layout (many partitions), and
    // the values match the window formulation it replaces
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").cast("long").as("q"))
    val rs = graft.operators.TextAnalysis.runningSum(
      li, Seq("l_orderkey", "l_linenumber"), "q", "cum")
    assert(rs.rdd.getNumPartitions > 1, "prefix sum output is range-distributed")
    val w = Window.orderBy("l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val viaWindow = li.withColumn("cum", sum("q").over(w))
      .orderBy("l_orderkey", "l_linenumber").select("cum").collect().map(_.getLong(0))
    val viaPrefix = rs.orderBy("l_orderkey", "l_linenumber").select("cum").collect().map(_.getLong(0))
    assert(viaPrefix.toSeq == viaWindow.toSeq, "prefix sum equals the window formulation")
  }

  test("ann pq: corpus never shuffles — narrow encode + broadcast queries + bounded top-k") {
    val p = plan("ann_pq_topk")
    assert(!p.contains("Exchange SinglePartition"), s"single-partition exchange:\n$p")
    assert(p.contains("pq_encode"), "narrow codebook-literal encoding present")
    assert(p.contains("pq_adc_score"), "ADC scoring expression present")
    assert(p.contains("BroadcastExchange"), "queries broadcast to the encoded corpus")
    assert(p.contains("topk_by_score"), "bounded-heap top-k, not a global window")
  }

  test("kmeans seed fetch: broadcast semi-join, no O(nCells) IN-list in the plan") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select(col("vec_id").as("corpus_id"), col("embedding").cast("array<double>").as("cv"))
    // capture the executed seed-fetch plan via a listener-free probe:
    // run centroid training at a large cell count and assert no plan
    // ever contains an IN-list of ids (the literal form would bloat
    // plan size/compile time at nCells=4096)
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit = plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.operators.Similarity.kmeansCentroids(emb, nCells = 64, lloydIters = 0)
      // listener delivery is async: poll until the semi-join plan lands
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() < deadline &&
             !plans.synchronized(plans.exists(_.contains("LeftSemi"))))
        Thread.sleep(100)
      val all = plans.synchronized(plans.mkString("\n===\n"))
      assert(!all.contains(" IN ("), s"no literal IN-list in any seed-fetch plan")
      assert(all.contains("BroadcastHashJoin") && all.contains("LeftSemi"),
        s"seed rows fetched via broadcast semi-join:\n$all")
    } finally spark.listenerManager.unregister(listener)
  }

  // ---- the kernels' block shuffles (RddKernel.combine / ship) ------------
  // A kernel shuffle writes (target partition, block) records; these
  // read them back per map partition.

  /** (map partition, reduce partition, block) of every record the
    * shuffle `d` writes. */
  private def blocks(d: org.apache.spark.ShuffleDependency[_, _, _]) =
    d.rdd.mapPartitionsWithIndex { (m, recs) =>
      recs.map { case (p: Int, b: graft.operators.RddKernel.Block[_, _]) => (m, p, b) }
    }.collect().toSeq

  /** The (key, value) entries of the blocks `d` writes. */
  private def entries(d: org.apache.spark.ShuffleDependency[_, _, _]): Seq[(Any, Any)] =
    blocks(d).flatMap(_._3.iterator)

  /** `d` is an `RddKernel.combine` shuffle that combined map-side: no
    * Spark aggregator, at most one block per (map, reduce) pair, one
    * entry per key in a block, every key in its block's partition. */
  private def combined(d: org.apache.spark.ShuffleDependency[_, _, _]): Boolean = {
    val bs = blocks(d)
    d.rdd.name == graft.operators.RddKernel.CombineBlocks && d.aggregator.isEmpty &&
      bs.map { case (m, p, _) => (m, p) }.distinct.size == bs.size &&
      bs.forall { case (_, p, b) =>
        b.keys.distinct.length == b.size && b.keys.forall(d.partitioner.getPartition(_) == p)
      }
  }

  /** The shuffles `rdd` reaches through narrow dependencies only. */
  private def nearestShuffles(rdd: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.ShuffleDependency[_, _, _]] =
    rdd.dependencies.flatMap {
      case d: org.apache.spark.ShuffleDependency[_, _, _] => Seq(d)
      case d => nearestShuffles(d.rdd)
    }

  // ---- the MinHash-LSH kernel (Dedup.MinhashKernel) ----------------------
  // Candidates and verification are RDD code, not SQL plans, so these
  // audit the kernel's lineage and the stages a query runs.

  /** The kernel's own shuffles (under its partitioner) that `rdd`
    * depends on. */
  private def kernelShuffles(k: graft.operators.Dedup.MinhashKernel,
                             rdd: org.apache.spark.rdd.RDD[_]) =
    lineage(rdd).flatMap(_.dependencies).collect {
      case d: org.apache.spark.ShuffleDependency[_, _, _] if d.partitioner == k.partitioner => d
    }

  /** A block entry is slim when its key is a (band, key) bucket or an
    * id and its value is an id or ids (a combined id list or set); a
    * band key is signature digits joined by "_". */
  private def slim(entry: (Any, Any)): Boolean = {
    val slimKey = entry._1 match {
      case (_: Int, k: org.apache.spark.unsafe.types.UTF8String) => k.toString.matches("-?[0-9]+(_-?[0-9]+)*")
      case _: Long => true
      case _ => false
    }
    slimKey && (entry._2 match {
      case _: Long | _: scala.collection.mutable.ArrayBuilder.ofLong => true
      case s: scala.collection.mutable.HashSet[_] => s.forall(_.isInstanceOf[Long])
      case _ => false
    })
  }

  /** Checks that every kernel shuffle before `candidates` carries only
    * slim block entries, and that the bucket shuffle is combined
    * map-side. */
  private def auditCandidates(k: graft.operators.Dedup.MinhashKernel,
                              candidates: org.apache.spark.rdd.RDD[_]): Unit = {
    val shuffles = kernelShuffles(k, candidates)
    assert(shuffles.nonEmpty, candidates.toDebugString)
    shuffles.foreach { d =>
      val es = entries(d).take(50)
      assert(es.nonEmpty && es.forall(slim), s"text-free shuffle blocks, got ${es.take(3)}")
    }
    assert(shuffles.exists(d => combined(d) &&
      entries(d).take(1).forall { case ((_: Int, _), _) => true; case _ => false }),
      "the (band, key) bucket shuffle is combined map-side")
  }

  /** Names of the RDDs in every stage `body` runs. */
  private def stageRddNames(body: => Unit): Seq[String] = {
    val names = scala.collection.mutable.ArrayBuffer[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        names.synchronized(names ++= e.stageInfo.rddInfos.map(_.name))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      graft.tools.Meter.drain(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    names.synchronized(names.toSeq)
  }

  private val CappedKernel = "MinhashKernel.candidates(maxBucketSize=1000)"

  test("incremental minhash: cross-batch candidate join ships no raw text") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft_audit_idx")
      .resolve("index").toString
    graft.operators.Dedup.commitMinhash(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", idx, shingleSize = 3)
    val k = new graft.operators.Dedup.MinhashKernel(docs.filter(col("doc_id") % 2 === 1),
      "text", "doc_id", shingleSize = 3, numHashes = 128, bands = 32,
      seed = graft.operators.Dedup.DefaultSeed, maxBucketSize = 1000)
    try {
      // the (band, key) bucket shuffles of the batch AND of the index
      // carry only ((band, key), id), and the candidate pairs only ids:
      // raw text through a 32x band explode would multiply shuffle
      // bytes 32x at 100 TB
      auditCandidates(k, k.candidates)
      val cross = k.indexCandidates(k.readIndex(spark.read.parquet(s"$idx/sigs")))
      auditCandidates(k, cross)
      assert(cross.count() > 0, "the cross-batch candidate join finds indexed buckets")
    } finally k.close()
  }

  test("txt_curation composes the CAPPED LSH near-dup path, not the exact n-gram join") {
    var p = ""
    val stages = stageRddNames { p = plan("txt_curation") }
    assert(stages.contains(CappedKernel), s"the capped MinHash kernel ran: ${stages.distinct}")
    assert(!p.contains("n_sh"), "uncapped exact shingle join (ngramJaccardPairs) absent")
  }

  test("dedup_embed_lsh: bucket cap present, vectors not shuffled through the explode") {
    val p = plan("dedup_embed_lsh")
    assert(p.contains("bucket_n"), "bucket-size cap aggregate present")
    // the bucket-side exchanges must carry only (id, table, key) —
    // the vector column rejoins later, so no exchange should ship `v`
    // together with a bucket key
    val shipsVectorsThroughBuckets =
      p.linesIterator.exists(l => l.contains("Exchange hashpartitioning(table") && l.contains(" v#"))
    assert(!shipsVectorsThroughBuckets, "bucket shuffle is slim (no vector payload)")
  }

  test("txt_canonical / txt_split: no single-partition funnel") {
    // note: the LSH pair generation + CC rounds materialize during
    // construction (localCheckpoint), so the returned plan shows only
    // the quality join + per-cluster window — the capped LSH path
    // itself is audited via txt_curation above
    val pc = plan("txt_canonical")
    assert(!pc.contains("Exchange SinglePartition"),
      s"canonical selection windows are keyed by cluster, never global:\n$pc")
    val ps = plan("txt_split")
    assert(!ps.contains("Exchange SinglePartition"), "split assignment is a narrow map + sort")
    assert(!ps.contains("Join"), "no join in deterministic split assignment")
  }

  test("dedup exact: single hash-aggregate shuffle, no join") {
    val p = plan("dedup_exact")
    assert(!p.contains("Join"), "exact dedup must not join")
    assert(p.contains("partial_"), "map-side partial aggregation")
  }

  test("sketch_hll: register aggregation is partial; only post-reduction rows funnel") {
    val p = plan("sketch_hll_distinct")
    // the data-sized pass MUST be map-side combined: each task reduces
    // its rows to ≤ m register cells before any exchange
    assert(p.contains("partial_"), "register max is map-side combined")
    // a GLOBAL (ungrouped) sketch necessarily folds through a single
    // partition at the end — benign, because only the ≤ m register
    // rows (and the global count_distinct partials) cross it, never
    // data-sized input. Assert that every single-partition exchange
    // sits directly above an aggregate, not above a scan/raw frame.
    val lines = p.linesIterator.toArray
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach { case (_, i) =>
      val below = lines.drop(i + 1).take(2).mkString("\n")
      assert(below.contains("HashAggregate") || below.contains("Aggregate"),
        s"single-partition exchange over non-aggregated input:\n$p")
    }
  }

  test("sketch_cms: constant-size cell table broadcast to the item probes") {
    val p = plan("sketch_cms_topk")
    assert(p.contains("BroadcastHashJoin"), s"cells joined by broadcast:\n$p")
  }

  test("ann_hamming: queries broadcast, corpus never shuffles, bounded top-k") {
    val p = plan("ann_hamming_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query signatures broadcast:\n$p")
    assert(p.contains("topk_by_score"), "bounded-heap top-k, not a global window")
    assert(!p.contains("Exchange SinglePartition"), s"funnel in hamming plan:\n$p")
  }

  test("dedup_semantic: narrow centroid assignment, no single-partition funnel") {
    val p = plan("dedup_semantic")
    assert(p.contains("nearest_centroid"), "literal-matrix cell assignment present")
    assert(!p.contains("Exchange SinglePartition"), s"funnel in semantic-dedup plan:\n$p")
    assert(!p.contains("Window"), "no window operator in the pair generation")
    // the within-cell self-join must move only the slim (id, cell)
    // projection through the cell_id shuffle, never the 64-double
    // vectors: check the operator directly UNDER each cell_id exchange
    val lines = p.linesIterator.toVector
    val cellExchanges = lines.zipWithIndex
      .filter(_._1.contains("Exchange hashpartitioning(cell_id"))
    assert(cellExchanges.nonEmpty, s"expected a cell_id-keyed exchange:\n$p")
    cellExchanges.foreach { case (_, i) =>
      val child = lines.lift(i + 1).getOrElse("")
      assert(!child.contains(", v#") && !child.contains("[v#"),
        s"vector column shuffled through the cell exchange:\n$child")
    }
  }

  test("sketch_hll_union: both aggregation levels partial (map-side combine)") {
    val p = plan("sketch_hll_union")
    assert(p.contains("partial_"), "register max aggregation runs partial before exchange")
    assert(!p.contains("Window"), s"no window in the merge path:\n$p")
  }

  test("q40_salted_join: salt spreads the join — shuffle keys include the salt column") {
    val p = plan("q40_salted_join")
    assert(p.contains("_salt"), s"salted key present in the executed plan:\n$p")
    assert(p.contains("partial_"), "post-join aggregation partial before final exchange")
  }

  test("txt_chunk_dedup: agg+join formulation — no window over the chunk key") {
    val p = plan("txt_chunk_dedup")
    assert(!p.contains("Window"), s"hot-chunk-skew-prone window absent:\n$p")
    assert(p.contains("partial_"), "first-occurrence aggregates map-side combined")
  }

  test("txt_substring_dedup: islands window keys by DOCUMENT, not the gram hash") {
    // a hot boilerplate gram must never pile into one window task: the
    // only window in the plan partitions by the doc id, and the gram
    // count aggregate is map-side combined
    val p = plan("txt_substring_dedup")
    assert(p.contains("partial_"), "gram-count aggregate map-side combined")
    val windowSpecs = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!windowSpecs.contains("__h"), s"window must not key on the gram hash:\n$windowSpecs")
  }

  test("txt_substring_strip: window-free; no per-token rows cross a shuffle") {
    val p = plan("txt_substring_strip")
    assert(!p.contains("Window"), s"no window anywhere:\n$p")
    assert(p.contains("partial_"), "first-occurrence aggregates map-side combined")
    // the rebuild is higher-order-function scan work after the
    // removed-array join — the exploded token stream must never be
    // what an exchange carries (grams travel as the 8-byte __h only)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("__g"), s"gram structs must not cross a shuffle:\n$exchanges")
  }

  test("txt_lm_score: vocab scalar broadcast; no single-partition funnel on the data path") {
    val p = plan("txt_lm_score")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"vocab-size single row must broadcast:\n$p")
    assert(p.contains("partial_"), "uni/bigram counts map-side combined")
  }

  test("samp_mixture: data path is a narrow scan-side filter — no join, no window") {
    val p = plan("samp_mixture")
    assert(!p.contains("Window"), s"no window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"rates are baked literals — no join on the data path:\n$p")
  }

  test("txt_classifier: model is a plan literal; scoring is pure scan work, no join at all") {
    val p = plan("txt_classifier")
    // the dense weight vector rides inside the native scoring
    // expression (classifier_logit) — no broadcast round-trip, no
    // join of any kind on the data path
    assert(p.contains("classifier_logit"), s"native one-pass scorer:\n$p")
    assert(!p.contains("Join"), s"model is a literal — no join needed:\n$p")
    // the whole per-doc score is single-expression scan work: no
    // explode of a feature array anywhere in the plan
    assert(!p.contains("Generate"), s"features must stay inside the row:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
  }

  test("txt_keywords: corpus size broadcast; the only window keys by DOCUMENT") {
    val p = plan("txt_keywords")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"N single row must broadcast:\n$p")
    assert(p.contains("partial_"), "tf/df aggregates map-side combined")
    // a window keyed by term would funnel every posting of a hot
    // stopword into one task — the partition key must be the doc id
    val windowSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n")
    assert(windowSpecs.contains("__id"), s"window partitions by doc:\n$windowSpecs")
    assert(!windowSpecs.matches("(?s).*windowspecdefinition\\(term.*"),
      s"window must not key on the term:\n$windowSpecs")
  }

  test("sketch_quantile: bin counts map-side combined; window over bins, not values") {
    val p = plan("sketch_quantile")
    assert(p.contains("partial_"), "bin counts map-side combined before the exchange")
    // the window runs on the ≤256-bins-per-group COUNT table — its
    // partition key is the group column; raw values never reach it
    val windowSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n")
    assert(windowSpecs.contains("l_returnflag"), s"window partitions by group:\n$windowSpecs")
    assert(!windowSpecs.contains("l_extendedprice"),
      s"window must see bins, not raw values:\n$windowSpecs")
  }

  test("emb_knn_graph: slim bucket shuffle, capped; vectors rejoin per edge, no window") {
    // the kNN build is the Similarity.KnnKernel lineage, not a SQL plan
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val k = new graft.operators.Similarity.KnnKernel(emb, "embedding", "vec_id", dim = 64,
      k = 10, nPlanes = 8, nTables = 8, seed = graft.operators.Dedup.DefaultSeed,
      maxBucketSize = 1000)
    try {
      val shuffles = lineage(k.topK).flatMap(_.dependencies).collect {
        case d: org.apache.spark.ShuffleDependency[_, _, _] => d
      }
      val Seq(edges, buckets) = Seq(k.topK, k.buckets).map(r => nearestShuffles(r).head)
      assert(shuffles == Seq(edges, buckets) && shuffles.forall(_.partitioner == k.partitioner),
        k.topK.toDebugString)
      // bucket blocks carry one (table, key) and one vector per entry,
      // never the row's whole bucket array
      val rows = entries(buckets).take(50)
      assert(rows.nonEmpty && rows.forall {
        case ((_: Int, _: Long), (_: Long, v: org.apache.spark.sql.catalyst.util.ArrayData)) =>
          v.numElements() == 64
        case _ => false
      }, s"((table, key), (id, vector)) bucket entries, got ${rows.take(3)}")
      // top-k blocks carry a node's (score, nbr) set of at most k
      val es = entries(edges).take(50)
      assert(es.nonEmpty && es.forall {
        case (_: Long, t: graft.operators.Similarity.TopK) => t.n >= 1 && t.n <= 10
        case _ => false
      }, s"(node, (score, nbr) set) edges, got ${es.take(3)}")
      assert(combined(edges), "the per-node top-k combines map-side")
      assert(!buckets.mapSideCombine && buckets.aggregator.isEmpty &&
        buckets.rdd.name == graft.operators.RddKernel.ShipBlocks,
        "bucket members are not buffered map-side")
      // no SQL plan between the input projection and the result
      val sql = lineage(k.topK, buckets.rdd).map(_.getClass.getName)
        .filter(_.startsWith("org.apache.spark.sql"))
      assert(sql.isEmpty, s"no SQL plan inside the kernel: $sql")
    } finally k.close()
  }

  test("emb_label_outliers: centroids broadcast back; corpus vectors never self-join") {
    val p = plan("emb_label_outliers")
    assert(p.contains("BroadcastExchange"), s"label centroids broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no vector-vector shuffle join:\n$p")
    assert(p.contains("partial_"), "(label,dim) sums and bounded top-k map-side combined")
  }

  test("emb_int8_topk: corpus scans once and never shuffles; queries broadcast") {
    val p = plan("emb_int8_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"quantized queries broadcast:\n$p")
    assert(p.contains("topk_by_score"), "bounded-heap top-k, not a global window")
    assert(!p.contains("Exchange SinglePartition"), s"funnel in int8 plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle-join:\n$p")
  }

  test("dedup_hamming_pairs: only slim (id, band, key) rows cross the band shuffle") {
    val p = plan("dedup_hamming_pairs")
    // the 8-byte signature rides the bucket rows (needed for the xor
    // verify), but the exchanges must never carry an embedding vector
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("embedding"),
      s"vectors must not cross the band shuffle:\n$exchanges")
    assert(p.contains("partial_"), "bucket counts map-side combined")
    assert(!p.contains("Window"), s"no window in the pair path:\n$p")
  }

  test("samp_cluster_balanced: narrow cell assignment; heap pick, no window, no funnel") {
    val p = plan("samp_cluster_balanced")
    assert(p.contains("nearest_centroid"), "literal-matrix cell assignment present")
    assert(p.contains("topk_by_score"), "per-cell bounded heap present")
    assert(!p.contains("Window"), s"no window sorts a cell's membership:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"funnel:\n$p")
  }

  test("txt_fuzzy_decontaminate: cross-corpus band join ships no raw text or shingles") {
    val p = plan("txt_fuzzy_decontaminate")
    // the (band, key) exchanges must carry only slim keyed rows —
    // text/shingle arrays through the 32× band explode would multiply
    // shuffle bytes 32×; shingles legitimately rejoin ONCE per
    // candidate id later (id-keyed joins), so only band-keyed
    // exchanges are constrained
    val bandExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning(band")).mkString("\n")
    assert(bandExchanges.nonEmpty, s"cross-corpus band equi-join present:\n$p")
    assert(!bandExchanges.contains("text#") && !bandExchanges.contains("shingles#"),
      s"band-key exchanges must carry only (id, band, key):\n$bandExchanges")
    assert(p.contains("partial_"), "corpus-side bucket counts map-side combined")
  }

  test("txt_entropy: tokens shuffle as 8-byte hashes; counts map-side combined; no window") {
    val p = plan("txt_entropy")
    assert(!p.contains("Window"), s"agg+join formulation, no window:\n$p")
    assert(p.contains("partial_"), "per-(doc,hash) counts map-side combined")
    // the (doc, hash)-keyed exchanges must not carry raw token strings
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning(__id")).mkString("\n")
    assert(keyed.nonEmpty, s"doc-keyed aggregation exchange present:\n$p")
    assert(!keyed.contains("__t#") && !keyed.contains("text#"),
      s"entropy exchanges must carry hashes/counts, not tokens:\n$keyed")
  }

  test("emb_linear_score: model is a plan literal — zero joins, zero exchanges on the scan") {
    val p = plan("emb_linear_score")
    assert(!p.contains("Join"), s"no join — the model must be a literal:\n$p")
    // only the final orderBy may exchange; the scoring itself is scan-side
    assert(!p.contains("Window") && !p.contains("Exchange SinglePartition"), p)
  }

  test("samp_temperature: data path is a narrow scan-side filter — no join, no window") {
    val p = plan("samp_temperature")
    assert(!p.contains("Join"), s"rates must be a literal CASE chain:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("samp_dsir: model broadcast as one row; selection is bounded top-k, not a sort") {
    val p = plan("samp_dsir")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must bound, never globally sort:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"the λ-map model must broadcast:\n$p")
    assert(p.contains("partial_"), "bucket counts map-side combined")
    assert(!p.contains("Window"), "no window anywhere in the dsir plan")
    // the only shuffle join allowed is the full-outer of the two
    // config-sized bucket tables (full-outer cannot broadcast): every
    // SortMergeJoin must key on the bucket column, never on data rows
    val smj = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.forall(_.contains("__b#")),
      s"sort-merge joins must only touch the bucket tables:\n${smj.mkString("\n")}")
  }

  test("sketch_domain_overlap: bounded sketch agg map-side partial; pair join broadcast; no window") {
    val p = plan("sketch_domain_overlap")
    assert(p.contains("partial_bottom_k_longs"),
      s"per-partition k-bounded partial sketches:\n$p")
    assert(!p.contains("Window"), "no per-group sort window anywhere")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the groups-by-groups pair join must broadcast sketch rows:\n$p")
  }

  test("txt_ccnet_buckets: thresholds broadcast; windows only over sketch BINS, never docs") {
    val p = plan("txt_ccnet_buckets")
    assert(p.contains("BroadcastHashJoin"),
      s"per-language thresholds must broadcast to the doc scan:\n$p")
    // the only Window sorts the ≤256 histogram bins per language:
    // its partition key must be the language, ordering by __bin
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, "the sketch cumulative sum uses a window over bins")
    // every window partitions by language and aggregates the bin
    // COUNTS (__cnt) — bounded at numBuckets rows per language — never
    // a per-document column
    assert(winLines.forall(l => l.contains("lang#") && l.contains("__cnt#")),
      s"windows must roll up per-language bin counts only:\n${winLines.mkString("\n")}")
    assert(winLines.exists(_.contains("__bin#")),
      s"the cumulative window orders by bin:\n${winLines.mkString("\n")}")
  }

  test("dedup_winnowing: only slim (id, hash) rows cross the fingerprint join; text stays scan-side") {
    val p = plan("dedup_winnowing")
    // the hash-keyed exchanges feeding the pair join must not carry
    // document text or the token/hash arrays
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning(__h")).mkString("\n")
    assert(keyed.nonEmpty, s"fingerprint equi-join present:\n$p")
    assert(!keyed.contains("text#") && !keyed.contains("toks"),
      s"fingerprint exchanges must be (id, hash) only:\n$keyed")
    assert(p.contains("partial_count"), "posting-list sizes and pair counts map-side combined")
    assert(!p.contains("Window"), "no window anywhere")
  }

  test("txt_winnowing / emb_random_projection: pure scans — no joins, no shuffles, no Generate") {
    for (name <- Seq("txt_winnowing", "emb_random_projection")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name must not join:\n$p")
      assert(!p.contains("Window"), s"$name must not window:\n$p")
      // only the final orderBy exchanges; the computation is in-row
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.forall(e => e.contains("rangepartitioning")),
        s"$name: only the output sort may exchange:\n${exchanges.mkString("\n")}")
    }
  }

  test("evt_funnel: window-free; per-step aggregations are partial; only slim columns shuffle") {
    val p = plan("evt_funnel")
    assert(!p.contains("Window"), s"funnel must not window a user's history:\n$p")
    assert(p.contains("partial_min"), "per-user step mins map-side combined")
    // the event payload column never leaves the scan
    assert(!p.contains("props#"), s"props must be pruned:\n$p")
  }

  test("evt_retention: distinct-by-aggregation, no window, payload pruned") {
    val p = plan("evt_retention")
    assert(!p.contains("Window"), s"retention must not window:\n$p")
    assert(!p.contains("props#") && !p.contains("value#"),
      s"payload columns must be pruned:\n$p")
    assert(p.contains("BroadcastHashJoin"), "cohort sizes broadcast back onto offsets")
  }

  test("dedup_edit_distance: text joins only after candidate pairs; banding exchanges are slim") {
    val p = plan("dedup_edit_distance")
    assert(!p.contains("Window"), s"no window:\n$p")
    // bucket exchanges carry (id, len, band, key) — never the text
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning(band"))
      .mkString("\n")
    assert(keyed.nonEmpty, s"band equi-join present:\n$p")
    assert(!keyed.contains("txt"), s"text must not ride the banding exchange:\n$keyed")
  }

  // ---- the iterative graph kernel (Graphs.NodeKernel) --------------------
  // Its rounds are RDD closures, not SQL plans, so these audit the
  // round LINEAGE and the job count instead of a plan string.

  /** A 100-node edge frame, materialized (a checkpointed scan). */
  private def ringEdges = {
    import org.apache.spark.sql.functions._
    org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointFreshStats(
      spark.range(100).select(col("id").as("src"),
        pmod(col("id") * 7 + 1, lit(100L)).as("dst")))
  }

  /** The RDDs `rdd` depends on, not descending into `stops`. */
  private def lineage(rdd: org.apache.spark.rdd.RDD[_],
                      stops: org.apache.spark.rdd.RDD[_]*): Seq[org.apache.spark.rdd.RDD[_]] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[Int, org.apache.spark.rdd.RDD[_]]
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (!stops.exists(_.id == r.id) && !seen.contains(r.id)) {
        seen(r.id) = r
        r.dependencies.foreach(d => walk(d.rdd))
      }
    walk(rdd)
    seen.values.toSeq
  }

  /** Rounds `step` `n` times from `init` and checks the loop lineage:
    * exactly one shuffle per round, combined map-side ([[combined]]),
    * under the kernel's partitioner, and no SQL plan inside the loop. */
  private def auditRounds[S](k: graft.operators.Graphs.NodeKernel,
      init: org.apache.spark.rdd.RDD[(Long, S)], n: Int)(
      step: org.apache.spark.rdd.RDD[(Long, S)] => org.apache.spark.rdd.RDD[(Long, S)]): Unit = {
    val last = (1 to n).foldLeft(init)((s, _) => step(s))
    val loop = lineage(last, init, k.adjacency)
    val shuffles = loop.flatMap(_.dependencies).collect {
      case d: org.apache.spark.ShuffleDependency[_, _, _] => d
    }
    assert(shuffles.size == n, s"one shuffle per round: ${loop.map(_.toDebugString).head}")
    assert(shuffles.forall(combined), "messages combine map-side")
    assert(shuffles.forall(_.partitioner == k.partitioner), "one partitioner for all rounds")
    val sql = loop.map(_.getClass.getName).filter(_.startsWith("org.apache.spark.sql"))
    assert(sql.isEmpty, s"no SQL plan inside the loop: $sql")
    assert(last.partitioner.contains(k.partitioner), "state stays co-partitioned")
  }

  test("emb_pagerank: one map-side-combined shuffle per round, no SQL in the loop") {
    val k = new graft.operators.Graphs.NodeKernel(ringEdges, "src", "dst")
    try auditRounds(k, k.adjacency.mapValues(_ => 1000000000L), 4)(graft.operators.Graphs.rankStep(k))
    finally k.close()
  }

  test("emb_label_prop: one map-side-combined shuffle per round, no SQL in the loop") {
    val k = new graft.operators.Graphs.NodeKernel(ringEdges, "src", "dst")
    val seeded = k.adjacency.mapPartitions(_.map { case (id, _) =>
      val l = if (id % 5 == 0) id % 10 else Long.MinValue
      (id, (l, l))
    }, preservesPartitioning = true)
    try auditRounds(k, seeded, 3)(
      graft.operators.Graphs.labelStep(k))
    finally k.close()
  }

  test("NodeKernel.iterate: 12 rounds cut the lineage at round 10, ranks unchanged") {
    import org.apache.spark.sql.functions._
    val twoOut = ringEdges.union(spark.range(100).select(col("id").as("src"),
      pmod(col("id") * 3 + 2, lit(100L)).as("dst")))
    val k = new graft.operators.Graphs.NodeKernel(twoOut, "src", "dst")
    try {
      val init = k.adjacency.mapValues(_ => 1000000000L)
      val step = graft.operators.Graphs.rankStep(k) _
      val cut = k.iterate(init, 12, None)(step)
      val shuffles = lineage(cut, k.adjacency).flatMap(_.dependencies)
        .count(_.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]])
      assert(shuffles == 2, "rounds 11 and 12 sit above the round-10 checkpoint")
      val uncut = (1 to 12).foldLeft(init)((s, _) => step(s))
      assert(cut.collect().toMap == uncut.collect().toMap)
    } finally k.close()
  }

  test("kernel shuffles carry blocks: no Spark aggregator under a kernel partitioner") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val mk = new graft.operators.Dedup.MinhashKernel(docs, "text", "doc_id", shingleSize = 3,
      numHashes = 128, bands = 32, seed = graft.operators.Dedup.DefaultSeed, maxBucketSize = 1000)
    val kk = new graft.operators.Similarity.KnnKernel(emb, "embedding", "vec_id", dim = 64,
      k = 10, nPlanes = 8, nTables = 8, seed = graft.operators.Dedup.DefaultSeed,
      maxBucketSize = 1000)
    val nk = new graft.operators.Graphs.NodeKernel(ringEdges, "src", "dst")
    try {
      import graft.operators.Graphs
      val labels = nk.undirected.mapPartitions(_.map { case (id, _) => (id, (id, id + 1)) },
        preservesPartitioning = true)
      val runs = Seq[(org.apache.spark.Partitioner, org.apache.spark.rdd.RDD[_])](
        mk.partitioner -> mk.scored(0.5)((i, a, b) => i.toDouble / (a + b - i)),
        kk.partitioner -> kk.topK,
        nk.partitioner -> Graphs.rankStep(nk)(nk.adjacency.mapValues(_ => 1000000000L)),
        nk.partitioner -> Graphs.labelStep(nk)(nk.adjacency.mapValues(_ => (1L, 1L))),
        nk.partitioner -> Graphs.componentStep(nk, jump = true)(labels),
        nk.partitioner -> Graphs.triangleCounts(nk))
      val shuffles = runs.flatMap { case (p, rdd) =>
        lineage(rdd).flatMap(_.dependencies).collect {
          case d: org.apache.spark.ShuffleDependency[_, _, _] if d.partitioner == p => d
        }
      }.distinct
      assert(shuffles.size >= 12, s"${shuffles.size} kernel shuffles")
      val aggregated = shuffles.filter(d => d.aggregator.isDefined || d.mapSideCombine)
      assert(aggregated.isEmpty, s"Spark aggregators under a kernel partitioner: ${aggregated.map(_.rdd)}")
      val writers = shuffles.map(_.rdd.name).toSet
      assert(writers == Set(graft.operators.RddKernel.CombineBlocks, graft.operators.RddKernel.ShipBlocks),
        s"every kernel shuffle is written by RddKernel.combine or ship: $writers")
    } finally { mk.close(); kk.close(); nk.close() }
  }

  /** Jobs started while `body` runs (the tools' meter). */
  private def jobsOf(body: => Unit): Long = graft.tools.Meter.using(spark) { m =>
    val j0 = m.totals().jobs
    body
    m.totals().jobs - j0
  }

  test("pageRank: 5 rounds over a materialized edge frame launch at most 3 jobs") {
    val e = ringEdges
    val jobs = jobsOf(graft.operators.Graphs.pageRank(e, iterations = 5))
    assert(jobs <= 3, s"$jobs jobs")
  }

  test("labelPropagation: 3 rounds over a materialized edge frame launch at most 3 jobs") {
    import org.apache.spark.sql.functions._
    val e = ringEdges
    val seeds = spark.range(0, 100, 5).select(col("id"), pmod(col("id"), lit(10L)).as("label"))
    val jobs = jobsOf(graft.operators.Graphs.labelPropagation(e, seeds, iterations = 3))
    assert(jobs <= 3, s"$jobs jobs")
  }

  test("connectedComponents: rounds are kernel closures, no SQL plan inside the loop") {
    val k = new graft.operators.Graphs.NodeKernel(ringEdges, "src", "dst")
    try {
      val start = k.undirected.mapValues(_ => (0L, 1L))
      val last = Seq(false, true, true).foldLeft(start)((l, jump) =>
        graft.operators.Graphs.componentStep(k, jump)(l))
      val loop = lineage(last, start, k.undirected)
      val shuffles = loop.flatMap(_.dependencies).collect {
        case d: org.apache.spark.ShuffleDependency[_, _, _] => d
      }
      // a min message per round; a request and a reply per jump
      assert(shuffles.size == 7, s"${last.toDebugString}")
      assert(shuffles.count(combined) == 5, "min messages and requests combine map-side")
      assert(shuffles.forall(_.partitioner == k.partitioner), "one partitioner for all rounds")
      val sql = loop.map(_.getClass.getName).filter(_.startsWith("org.apache.spark.sql"))
      assert(sql.isEmpty, s"no SQL plan inside the loop: $sql")
      assert(last.partitioner.contains(k.partitioner), "labels stay co-partitioned")
    } finally k.close()
  }

  test("connectedComponents: a materialized 64-node chain launches at most 10 jobs") {
    import org.apache.spark.sql.functions._
    val chain = org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointFreshStats(
      spark.range(63).select(col("id").as("id_a"), (col("id") + 1).as("id_b")))
    val jobs = jobsOf(graft.operators.Dedup.connectedComponents(chain))
    assert(jobs <= 10, s"$jobs jobs")
  }

  test("triangleStats: a materialized edge frame launches at most 1 job") {
    val e = ringEdges
    val jobs = jobsOf(graft.operators.Graphs.triangleStats(e, "src", "dst"))
    assert(jobs <= 1, s"$jobs jobs")
  }

  test("txt_c4_filters, txt_readability, txt_code_detect: lowercase through LowerUtf8, not Spark's lower()") {
    for (q <- Seq("txt_c4_filters", "txt_readability", "txt_code_detect")) {
      val exprs = SparkEntry.queries(q)(spark, sf("sf0.001")).queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName }))
      assert(!exprs.contains("Lower"), s"$q plans Spark's lower()")
      assert(exprs.contains("LowerUtf8"), s"$q lowercases")
    }
  }

  test("samp_winsorize: thresholds broadcast; windows only roll up bin counts, never values") {
    val p = plan("samp_winsorize")
    assert(p.contains("BroadcastHashJoin"), s"O(groups) thresholds must broadcast:\n$p")
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.forall(_.contains("__cnt#")),
      s"windows must only roll up the ≤numBuckets bin counts:\n${winLines.mkString("\n")}")
    assert(!winLines.exists(_.contains("l_orderkey")),
      "no window over the data rows")
  }

  test("meta_upsert: one anti join, no window, no cartesian") {
    val p = plan("meta_upsert")
    assert(p.contains("LeftAnti"), s"pass-through side is an anti join:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("evt_session_stats: session window keyed by user; rollup map-side combined") {
    val p = plan("evt_session_stats")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("user_id#")),
      s"windows must partition by user:\n${winLines.mkString("\n")}")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-session rollup partial-aggregated")
  }

  test("txt_pmi: bounded top-k selection, pair counts map-side combined, no data window") {
    val p = plan("txt_pmi")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be bounded, not a sort:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
    assert(p.contains("partial_count"), "pair/marginal counts map-side combined")
  }

  test("sketch_percentile_score: bin table broadcast back; windows only roll up bin counts") {
    val p = plan("sketch_percentile_score")
    assert(p.contains("BroadcastHashJoin"), s"bin table must broadcast:\n$p")
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.forall(_.contains("__cnt#")),
      s"windows only over bin counts:\n${winLines.mkString("\n")}")
  }

  test("evt_transitions: data window keyed by user; matrix window over the tiny count table") {
    val p = plan("evt_transitions")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.forall(l => l.contains("user_id#") || l.contains("from_event#")),
      s"windows keyed by user (lead) or from_event (row normalize) only:\n${winLines.mkString("\n")}")
  }

  test("sketch_psi_drift: bin counts map-side combined; pair matrix is broadcast-joined, no window") {
    val p = plan("sketch_psi_drift")
    assert(p.contains("partial_count"), "per-(group,bin) counts map-side combined")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"groups×groups pair join must broadcast:\n$p")
    assert(!p.contains("Window"), s"no window anywhere:\n$p")
  }

  test("txt_bm25: stats broadcast back; bounded top-k; no window") {
    val p = plan("txt_bm25")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be bounded, not a sort:\n$p")
    assert(p.contains("BroadcastExchange"), "corpus stats / idf table broadcast back")
    assert(!p.contains("Window"), s"no window:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "tf/df aggregations map-side combined")
  }

  test("emb_kmeans: final assignment is a narrow literal-matrix map — no join, no window") {
    val p = plan("emb_kmeans")
    assert(p.contains("nearest_centroid"), "assignment via the plan-literal centroid matrix")
    assert(!p.contains("Join"), s"no join in the returned plan:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
  }

  test("meta_zorder: pure scan-side bit math — no shuffle except the output order") {
    val p = plan("meta_zorder")
    assert(!p.contains("Exchange hashpartitioning"), s"no keyed shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"), s"narrow map only:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("o_totalprice"),
      "scan prunes to the two clustering columns")
  }

  test("evt_anomaly: stats broadcast onto the count table; window-free; props pruned") {
    val p = plan("evt_anomaly")
    assert(p.contains("BroadcastHashJoin"), s"per-type stats must broadcast:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
    assert(p.contains("partial_count"), "the (type, day) count is map-side combined")
    assert(!p.contains("props#"), "payload columns pruned at the scan")
  }

  test("dedup_containment: capped bucket path, shingles rejoin after candidates, no window") {
    var p = ""
    val stages = stageRddNames { p = plan("dedup_containment") }
    assert(stages.contains(CappedKernel), s"the capped MinHash kernel ran: ${stages.distinct}")
    assert(!p.contains("Window"), s"window-free:\n$p")
    // the kernel's shuffles before verification are slim: shingle
    // arrays meet once per candidate pair, never riding the 32x band
    // explode
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val k = new graft.operators.Dedup.MinhashKernel(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 128, bands = 32, seed = graft.operators.Dedup.DefaultSeed,
      maxBucketSize = 1000)
    try auditCandidates(k, k.candidates)
    finally k.close()
  }

  test("dedup_minhash_lsh: building and collecting the pairs takes at most 2 jobs") {
    // a materialized 4-partition input, so the scan floor adds no job
    val docs = org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointFreshStats(
      spark.read.parquet(sf("sf0.001") + "/documents.parquet").repartition(4))
    val jobs = jobsOf(graft.operators.Dedup.minhashNearDups(docs, "text", "doc_id",
      shingleSize = 3, threshold = 0.3).collect())
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("emb_knn_graph: building and collecting the graph takes at most 2 jobs") {
    // a materialized 4-partition input, as in the dedup_minhash_lsh guard
    val emb = org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointFreshStats(
      spark.read.parquet(sf("sf0.001") + "/embeddings.parquet").repartition(4))
    val jobs = jobsOf(graft.operators.Similarity.knnGraph(emb, "embedding", "vec_id",
      dim = 64, k = 10, nPlanes = 8, nTables = 8).collect())
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("evt_attribution: window-free struct-min/max agg; payload columns pruned") {
    val p = plan("evt_attribution")
    assert(!p.contains("Window"), s"window-free:\n$p")
    assert(p.contains("partial_min") && p.contains("partial_max"),
      "first/last-touch structs are map-side combined")
    assert(!p.contains("props#"), "payload columns pruned at the scan")
  }

  test("meta_diff: one full-outer key join; scan-side compare — no window, no cartesian") {
    val p = plan("meta_diff")
    assert(p.contains("FullOuter"), s"full-outer key join:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), s"narrow compare:\n$p")
  }

  test("meta_skew_stats: count map-side combined; top-k bounded, not a global sort") {
    val p = plan("meta_skew_stats")
    assert(p.contains("partial_count"), "per-key count map-side combined")
    assert(p.contains("TakeOrderedAndProject"), s"top-k counts bounded:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
  }

  test("samp_shuffle: distributed rank — no window, no single-partition funnel") {
    val p = plan("samp_shuffle")
    assert(!p.contains("Window"), s"no window:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"no one-task funnel:\n$p")
  }

  test("emb_covariance: moment aggregation map-side combined; assembly joins broadcast") {
    val p = plan("emb_covariance")
    // ONE buffer per partition, partial-combined before the single
    // 1-row shuffle; the per-row triangle explode is gone entirely
    assert(p.contains("partial_moment_matrix"),
      s"128-bit moment buffer partial-aggregated before the shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"mean/count joins on the d2-row table broadcast:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
  }

  test("txt_inverted_index: bounded heap per term — no collect_list, no window over postings") {
    val p = plan("txt_inverted_index")
    assert(p.contains("bottom_k_longs") || p.contains("partial_bottom_k_longs"),
      s"posting sample via the k-bounded aggregate:\n$p")
    assert(!p.contains("collect_list"), s"no unbounded per-term state:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
  }

  test("emb_decontaminate: only slim (id, table, key) rows ride the bucket exchanges") {
    val p = plan("emb_decontaminate")
    // every keyed shuffle (bucket join, candidate dedup) must NOT
    // carry a vector column — vectors rejoin once per candidate id
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.nonEmpty, s"expected keyed exchanges:\n$p")
    assert(exch.forall(l => !l.contains("v_c#") && !l.contains("v_b#") && !l.contains("embedding#")),
      s"vectors must not cross bucket shuffles:\n${exch.mkString("\n")}")
    assert(p.contains("LeftAnti"), "survivors selected with an anti join")
  }

  // The operators audited through `checkpointPlan` checkpoint their
  // result (the returned plan collapses to an ExistingRDD scan), so
  // their shape audits read the plan of the checkpoint job itself: the
  // plan production runs, with the shared frame's cache in it.

  import org.apache.spark.sql.functions._

  /** The executed plan of the one `localCheckpoint` action `run`
    * makes — for AQE, the final plan and the initial plan. */
  private def checkpointPlan(run: => org.apache.spark.sql.DataFrame): String = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      graft.tools.Meter.drain(spark)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, s"expected one localCheckpoint action, got ${plans.size}")
    val p = plans.peek()
    assert(p.contains("InMemoryTableScan"), s"the shared frame is read from its cache:\n$p")
    p
  }

  test("domainQuality seam: domain table broadcasts back, no window, no text in exchanges") {
    val docs = spark.range(500).select(col("id").as("doc_id"),
      concat(lit("d"), col("id") % 20).as("source"),
      concat(lit("body text number "), col("id") % 100).as("text"))
    val p = checkpointPlan(graft.operators.TextAnalysis.domainQuality(docs,
      "doc_id", "source", "text", 20, 3, 0.5, 0.5))
    assert(p.contains("BroadcastHashJoin"), s"domain verdicts broadcast onto the doc scan:\n$p")
    assert(p.contains("partial_"), s"(src,fp) counts map-side combined:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
    // the raw text column must never ride a shuffle — docs reduce to
    // (src, fingerprint, n_tokens) before any exchange
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.forall(!_.contains("text#")),
      s"text must not cross exchanges:\n${exch.mkString("\n")}")
  }

  test("cooccurrence seam: distinct before the self-join, marginals broadcast, no window") {
    val ev = spark.range(2000).select((col("id") % 300).as("u"),
      (col("id") % 6).cast("string").as("et"))
    val p = checkpointPlan(graft.operators.EventAnalytics.cooccurrence(ev, "u", "et"))
    assert(p.contains("partial_"), s"distinct (user,type) map-side combined:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"marginals broadcast onto pair rows:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge at this scale:\n$p")
  }

  test("evt_paths: one user-keyed lead window, events scanned once, share never re-runs the subtree") {
    val p = plan("evt_paths")
    assert(p.contains("windowspecdefinition(user_id"),
      s"lead window keyed by user, never global over raw events:\n$p")
    // the share denominator must roll up the tiny aggregated path
    // table, not re-execute the scan+window subtree a second time
    val scans = p.linesIterator.count(_.contains("events.parquet"))
    assert(scans === 1, s"events scanned exactly once, got $scans:\n$p")
    assert(p.contains("partial_"), s"path counts map-side combined:\n$p")
  }

  test("rfm seam: one per-user aggregation, scalar cutoffs broadcast, no window") {
    val ev = spark.range(2000).select((col("id") % 300).as("u"),
      (col("id") * 1000000L).as("ts"), (col("id") % 10).cast("double").as("v"))
    val p = checkpointPlan(graft.operators.EventAnalytics.rfm(ev, "u", "ts", "v"))
    assert(!p.contains("Window"), s"no window — mean cutoffs, not quantiles:\n$p")
    assert(p.contains("partial_"), s"per-user agg map-side combined:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus scalars broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no data-sized join at all:\n$p")
  }

  test("emb_drift: corpus never shuffles — narrow assignment, cell-sized rollup, grid window only") {
    val p = plan("emb_drift")
    assert(p.contains("partial_"), s"cell counts map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"grid/totals joins broadcast:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"counts + totals broadcast:\n$p")
    // the only exchanges after the scan carry the <= nCells histogram,
    // never the embedding column
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.forall(!_.contains("embedding#")),
      s"vectors must not cross exchanges:\n${exch.mkString("\n")}")
  }

  test("activeUsers seam: events reduce to distinct (u, day) first; window fan-out broadcasts") {
    val ev = spark.range(5000).select((col("id") % 400).as("u"),
      ((col("id") % 30) * 86400000000L + col("id")).as("ts"))
    val p = checkpointPlan(graft.operators.EventAnalytics.activeUsers(ev, "u", "ts",
      windowDays = 7))
    assert(p.contains("partial_"), s"distinct (u,day) map-side combined:\n$p")
    // r15: the trailing-window fan-out is a BOUNDED EXPLODE of the slim
    // (u, day) frame into <= windowDays anchors — the former
    // BroadcastNestedLoopJoin interval join compared every slim row
    // against every observed day (|au|·|days| work, measured ~14 CPU-s
    // at sf0.1 vs the explode's |au|·windowDays rows)
    assert(p.contains("Generate explode(sequence("),
      s"trailing window fans out via bounded explode:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the interval NLJ is gone — explode replaced it:\n$p")
    assert(!p.contains("Window"), s"no window — distinct cannot slide:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no data-sized sort-merge join:\n$p")
  }

  test("evt_conversion_lag: type filters pushed to both scans; window only over hour buckets") {
    val p = plan("evt_conversion_lag")
    // the two event-type slices each push their filter into the scan —
    // two pruned scans beat one full scan + persist for source slices
    val scans = p.linesIterator.filter(_.contains("events.parquet")).toSeq
    assert(scans.size === 2, s"one pruned scan per type slice:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,"),
      s"type filter reaches the parquet scan:\n$p")
    assert(p.contains("partial_"), s"per-user mins map-side combined:\n$p")
    assert(!p.contains("CartesianProduct"), s"user join is an equi-join:\n$p")
    // the only Window rolls up the AGGREGATED hour-bucket table (span-
    // bounded), never a user's event history
    assert(!p.contains("windowspecdefinition(u#") &&
      !p.contains("windowspecdefinition(user_id"),
      s"no window keyed by user over raw events:\n$p")
  }

  test("emb_silhouette: corpus never shuffles — narrow literal-matrix pass, cell-sized rollup") {
    val p = plan("emb_silhouette")
    assert(p.contains("partial_"), s"cell sums map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"grid join broadcasts:\n$p")
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.forall(!_.contains("embedding#")),
      s"vectors must not cross exchanges:\n${exch.mkString("\n")}")
  }

  test("zipfStats seam: tokens shuffle as 8-byte hashes; top-N is a bounded heap, not a sort") {
    val docs = spark.range(300).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta token"), col("id") % 50).as("text"))
    val p = checkpointPlan(graft.operators.TextAnalysis.zipfStats(docs, "text", topN = 100))
    assert(p.contains("partial_"), s"hash counts map-side combined:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N via per-partition bounded heaps, never a global sort:\n$p")
    // raw token strings must never ride a shuffle — only the 8-byte
    // portable hash keys the count aggregation
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.nonEmpty && exch.forall(!_.contains("__t#")),
      s"tokens cross exchanges only as hashes:\n${exch.mkString("\n")}")
  }

  test("triangleStats seam: long-keyed joins only, no window, no cartesian") {
    // the triangle counts are kernel closures: audit their lineage
    val pairs = org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointFreshStats(
      spark.range(3000).select((col("id") % 500).as("id_a"), ((col("id") * 13 + 7) % 500).as("id_b")))
    val k = new graft.operators.Graphs.NodeKernel(pairs, "id_a", "id_b")
    try {
      val counts = graft.operators.Graphs.triangleCounts(k)
      val loop = lineage(counts, k.undirected)
      val shuffles = loop.flatMap(_.dependencies).collect {
        case d: org.apache.spark.ShuffleDependency[_, _, _] => d
      }
      assert(shuffles.size == 3, "orientation, wedges, counts")
      assert(shuffles.forall(_.partitioner == k.partitioner), "one partitioner")
      val sql = loop.map(_.getClass.getName).filter(_.startsWith("org.apache.spark.sql"))
      assert(sql.isEmpty, s"no SQL plan inside the rounds: $sql")
      // the final zip's parents: the held orientation and the counts
      val Seq(_, closed) = counts.dependencies.map(_.rdd)
      val countShuffle = nearestShuffles(closed)
      assert(countShuffle.size == 1 && combined(countShuffle.head),
        "per-node counts combine map-side")
      assert(counts.partitioner.contains(k.partitioner), "counts stay co-partitioned")
    } finally k.close()
  }

  test("emb_diversity: one global agg, no joins, corpus never shuffles") {
    val p = plan("emb_diversity")
    assert(p.contains("partial_"), s"moment sums map-side combined:\n$p")
    assert(!p.contains("Join"), s"no join of any kind:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
    // the only exchange is the single-row partial-aggregate funnel —
    // no hashpartitioning exchange carries vectors
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.isEmpty, s"no data-sized shuffle:\n${exch.mkString("\n")}")
  }

  test("evt_gini: per-user counts map-side combined; ranks are range-sorted, no single-partition window") {
    val p = plan("evt_gini")
    assert(p.contains("partial_"), s"per-user counts map-side combined:\n$p")
    assert(!p.contains("Window"),
      s"ranks come from zipWithIndex, never a global window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"scalar joins broadcast:\n$p")
  }

  test("evt_seasonality: one 168-key agg, grid join broadcasts, no window") {
    val p = plan("evt_seasonality")
    assert(p.contains("partial_"), s"cell counts map-side combined:\n$p")
    assert(!p.contains("Window"), s"scalar total rides a cross join, not a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"grid and total joins broadcast:\n$p")
  }

  test("evt_bots: two stacked map-side aggs, no window, no join, no sort of events") {
    val p = plan("evt_bots")
    assert(p.contains("partial_"), s"per-minute buckets map-side combined:\n$p")
    assert(!p.contains("Window"), s"no window over event history:\n$p")
    assert(!p.contains("Join"), s"no join:\n$p")
  }

  test("txt_readability / txt_code_detect: pure scan-side — no shuffle beyond the output sort") {
    for (name <- Seq("txt_readability", "txt_code_detect")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name: scan-speed expressions, no keyed shuffle:\n$p")
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$name: no join, no window:\n$p")
    }
  }

  test("lifecycle seam: one user-keyed window over distinct active days, day rollups map-side") {
    val ev = spark.range(4000).select((col("id") % 300).as("u"),
      ((col("id") % 20) * 86400000000L + col("id")).as("ts"))
    val p = checkpointPlan(graft.operators.EventAnalytics.lifecycle(ev, "u", "ts"))
    assert(p.contains("partial_"), s"distinct + day counts map-side combined:\n$p")
    // every window is keyed by the user over DISTINCT active days —
    // never over raw event history (the windowed frame is cached, so
    // the classification and churn branches share one copy)
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("windowspecdefinition(u#")),
      s"windows keyed by user over active days:\n${specs.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("meta_integrity: distinct parent keys before a LeftAnti key join; no window, no cartesian") {
    val p = plan("meta_integrity")
    assert(p.contains("LeftAnti"), s"orphans via anti-join:\n$p")
    assert(p.contains("partial_"), s"counts and key distinct map-side combined:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
    assert(!p.contains("CartesianProduct"), s"scalar joins broadcast:\n$p")
  }

  test("evt_trend: two stacked map-side aggs over (type, day) counts — no window, no join") {
    val p = plan("evt_trend")
    assert(p.contains("partial_"), s"daily counts map-side combined:\n$p")
    assert(!p.contains("Window"), s"regression over exact sums, no window:\n$p")
    assert(!p.contains("Join"), s"no join:\n$p")
  }

  test("evt_regularity: the only window lags slim (user, ts) rows; moments map-side") {
    val p = plan("evt_regularity")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("windowspecdefinition(user_id#")),
      s"lag keyed by user only:\n${specs.mkString("\n")}")
    assert(p.contains("partial_"), s"gap moments map-side combined:\n$p")
    assert(!p.contains("event_type") && !p.contains("props"),
      s"payload columns pruned before the shuffle:\n$p")
  }

  test("cohortLtv seam: per-user min map-side; window only over the (cohort, age) table") {
    val ev = spark.range(5000).select((col("id") % 400).as("u"),
      ((col("id") % 15) * 86400000000L + col("id")).as("ts"),
      (col("id") % 7).cast("double").as("v"))
    val p = checkpointPlan(graft.operators.EventAnalytics.cohortLtv(ev, "u", "ts", "v"))
    assert(p.contains("partial_"), s"first-day min map-side combined:\n$p")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("windowspecdefinition(cohort#")),
      s"the only window rolls up the bounded (cohort, age) table:\n${specs.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("emb_dims_health: one global agg, inline unpivot — corpus never shuffles, no join") {
    val p = plan("emb_dims_health")
    assert(p.contains("partial_"), s"4·dim moments map-side combined:\n$p")
    assert(!p.contains("Join"), s"no join:\n$p")
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.isEmpty, s"no data-sized shuffle:\n${exch.mkString("\n")}")
  }

  test("txt_boilerplate: lines cross exchanges only as 8-byte hashes, distinct before count") {
    val p = plan("txt_boilerplate")
    assert(p.contains("partial_"), s"doc-frequency count map-side combined:\n$p")
    // raw line text must never key a shuffle — only the hash column
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.nonEmpty && exch.forall(!_.contains("__l#")),
      s"line text never rides an exchange key:\n${exch.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("emb_recall_eval: corpus vectors never keyed into an exchange; overlap join on slim ids") {
    val p = plan("emb_recall_eval")
    // both ANN arms broadcast the query side; the only hash exchanges
    // carry (query_id, corpus_id) longs or bounded top-k buffers
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.forall(l => !l.contains("cv#") && !l.contains("embedding#")),
      s"corpus never shuffles:\n${exch.mkString("\n")}")
    assert(!p.contains("SortMergeJoin"), s"overlap join broadcasts:\n$p")
    assert(p.contains("partial_"), s"overlap count map-side combined:\n$p")
  }

  test("dedup_sorted_neighborhood: rank order is a range exchange, no global window, no cartesian") {
    val p = plan("dedup_sorted_neighborhood")
    assert(p.contains("Exchange rangepartitioning"),
      s"global order via range exchange (the sort any engine pays):\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"no one-task funnel:\n$p")
    assert(!p.contains("Window"), s"rank comes from zipWithIndex, not a global window:\n$p")
    assert(!p.contains("CartesianProduct"), s"neighborhood pairing is an equi-join:\n$p")
    // shingle arrays must not key the candidate exchange — only
    // (bucket, rank, id) longs ride the neighborhood join
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.forall(l => !l.contains("sh_a#") && !l.contains("sh_b#") && !l.contains("shingles#")),
      s"shingles join back per-id, never key the pairing shuffle:\n${exch.mkString("\n")}")
  }

  test("dedup_snm_multipass: slim-pair dedup, no global window, no cartesian") {
    // the two per-pass range exchanges run inside the eager
    // zipWithIndex jobs and surface as ExistingRDDs here — the visible
    // plan covers the union/distinct/verify stages
    val p = plan("dedup_snm_multipass")
    assert(p.contains("Exchange rangepartitioning"),
      s"final ordering via range exchange (never a single-task sort):\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"no one-task funnel:\n$p")
    assert(!p.contains("Window"), s"ranks come from zipWithIndex, not a global window:\n$p")
    assert(!p.contains("CartesianProduct"), s"neighborhood pairing is an equi-join:\n$p")
    // the cross-pass dedup must aggregate the slim (id_a, id_b) pairs,
    // never the shingle arrays; shingles join back per-id afterwards
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.forall(l => !l.contains("sh_a#") && !l.contains("sh_b#") && !l.contains("shingles#")),
      s"shingles never key a shuffle:\n${exch.mkString("\n")}")
    // map-side-combined distinct: a HashAggregate on the pair keys on
    // BOTH sides of the pair exchange (a keys-only aggregate has no
    // functions, so there is no "partial_" marker to grep)
    val pairAggs = p.linesIterator.count(l =>
      l.contains("HashAggregate(keys=[id_a#") && l.contains("functions=[]"))
    assert(pairAggs >= 2, s"pair distinct must combine map-side then merge, got $pairAggs:\n$p")
  }

  test("emb_ood_score: one-row stats broadcast back; corpus never hash-shuffles") {
    val p = plan("emb_ood_score")
    assert(p.contains("partial_"), s"2·dim+1 moments map-side combined:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the single stats row broadcasts:\n$p")
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.isEmpty, s"no data-sized shuffle:\n${exch.mkString("\n")}")
  }

  test("emb_pq_profile: codebook is a plan literal — one scan, no join, corpus never shuffles") {
    val p = plan("emb_pq_profile")
    assert(p.contains("partial_"), s"per-m sums map-side combined:\n$p")
    assert(!p.contains("Join"), s"no join (codebook rides as a literal):\n$p")
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.isEmpty, s"no data-sized shuffle:\n${exch.mkString("\n")}")
  }

  test("emb_ivf_profile: one corpus pass scores every probe depth; probe/truth sides broadcast") {
    val p = plan("emb_ivf_profile")
    assert(p.contains("nearest_centroid"), s"narrow literal-matrix assignment present:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe ranks and truth broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus never joins big-to-big:\n$p")
    // the corpus' vector column must never key an exchange — the only
    // hash exchanges carry the Q·nCells probe-rank window rows
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.forall(l => !l.contains("v#") && !l.contains("embedding#")),
      s"corpus vectors never shuffle:\n${exch.mkString("\n")}")
  }

  test("dedup_threshold_profile: the minhash-chain shape holds with the verify threshold open") {
    val p = plan("dedup_threshold_profile")
    assert(!p.contains("CartesianProduct"), s"banding is an equi-join:\n$p")
    assert(p.contains("partial_"), s"bin rollup map-side combined:\n$p")
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.forall(l => !l.contains("sh_a#") && !l.contains("sh_b#") && !l.contains("shingles#")),
      s"shingles never key an exchange:\n${exch.mkString("\n")}")
  }

  test("evt_gap_profile: the only data-sized window keys by user; rollup is <= 7 rows") {
    val p = plan("evt_gap_profile")
    assert(p.contains("partial_"), s"bucket rollup map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no join at all:\n$p")
    val win = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(win.exists(_.contains("user_id")),
      s"the gap lead keys by user:\n${win.mkString("\n")}")
  }

  test("evt_changepoint: windows only over the (type, day) rollup, stats broadcast") {
    val p = plan("evt_changepoint")
    assert(p.contains("partial_"), s"day rollup map-side combined:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"per-type stats broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no data-sized join:\n$p")
    // every CUSUM window keys by event_type — never an empty partition spec
    val win = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(win.nonEmpty && win.forall(_.contains("event_type")),
      s"windows partitioned by type:\n${win.mkString("\n")}")
  }

  test("markovSurprisal seam: user-keyed window only, matrix joins broadcast") {
    // audit the checkpoint job's plan — the registered query is
    // checkpointed, so its executed plan is just a scan
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    val events = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_us", expr("ts div 1000"))
      case _ => raw.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    }
    val p = checkpointPlan(graft.operators.EventAnalytics.markovSurprisal(
      events, "user_id", "event_type", "ts_us", "event_id"))
    assert(p.contains("BroadcastHashJoin"), s"term matrix broadcasts onto the slim frame:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no data-sized join:\n$p")
    assert(p.contains("partial_"), s"per-user rollup map-side combined:\n$p")
    // the only data-sized window keys by user — never an empty partition spec
    val win = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(win.forall(_.contains("user_id")), s"window keyed by user:\n${win.mkString("\n")}")
  }
}
