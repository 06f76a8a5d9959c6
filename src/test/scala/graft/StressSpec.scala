package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Nightly-style 10× stress point (VERDICT r2 #8): the sf0.1 bench
  * cannot see super-linear blowups; this synthesizes a ~sf1 corpus
  * (10× sf0.1) and asserts the CAPPED dedup family scales
  * near-linearly. Opt-in via GRAFT_STRESS=1 — it takes minutes, so it
  * is cancelled (not silently passed) in the default suite run.
  *
  * Corpus construction: 10 copies of sf0.1 documents with every token
  * suffixed `_k` per copy k — copies share ZERO shingles across
  * groups, so the true near-dup pair set scales exactly 10× and a
  * wall-time ratio >> 10 can only come from super-linear plan
  * behavior (e.g. an uncapped bucket going quadratic).
  */
class StressSpec extends SparkSpec {

  private def tenX = {
    val base = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select("doc_id", "text")
    val copies = (0 until 10).map { k =>
      base.select(
        (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"_$k"))), " ").as("text"))
    }
    (base, copies.reduce(_ union _))
  }

  private def timeOf(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  test("minhash LSH + connected components stay near-linear at 10x (sf~1)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    val (one, ten) = tenX
    def dedupChain(df: org.apache.spark.sql.DataFrame): Unit = {
      val pairs = Dedup.minhashNearDups(df, "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5)
      Dedup.connectedComponents(pairs).count()
    }
    dedupChain(one)                    // warm-up: JIT + codegen + scan
    val t1 = timeOf(dedupChain(one))
    val t10 = timeOf(dedupChain(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"capped LSH dedup must scale near-linearly: 10x data took $ratio%.1fx the time")
  }

  test("chunk dedup stays near-linear at 10x (agg+join, no chunk-key window)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    // token-suffixed copies share ZERO chunks across groups → true dup
    // structure scales exactly 10x; a hot-chunk window would not
    val (one, ten) = tenX
    import graft.operators.TextAnalysis
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      TextAnalysis.chunkDedup(df, "doc_id", "text", chunkSize = 3)
        .agg(sum("n_dup_chunks")).collect()
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"chunk dedup must scale near-linearly: 10x data took $ratio%.1fx the time")
  }

  test("connected components: power-law cluster — half of all rows in ONE chain component") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    // Pointer-doubling's worst case: one giant component whose
    // diameter grows with the corpus (a CHAIN holding 50% of all
    // nodes; the other 50% are 2-node clusters). Plain min-label
    // propagation needs O(diameter) rounds — the doubling shortcut
    // must keep it at O(log diameter): a 300k chain settles in ~21
    // rounds (log₂ diameter doubling rounds + the 2 doubling-free
    // opening rounds + the final no-change probe round), which is why
    // connectedComponents defaults maxIter = 32 — 20 produced correct
    // labels here but no convergence confirmation. The converging hot
    // label (every chain node ends up labeled 0) must not stall a
    // single task: labels are the PROBE side of the shortcut
    // equi-join, the unique-id side builds, so a hot key skews a
    // partition without exploding it.
    def graph(n: Int) = {
      val chain = spark.range(0, n / 2 - 1)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val smalls = spark.range(n / 2, n - 1, 2)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      chain.union(smalls)
    }
    def run(n: Int): Long =
      Dedup.connectedComponents(graph(n))
        .filter(col("cluster_id") === 0).count()
    run(6000) // warm-up: JIT + codegen
    var c1 = 0L; var c10 = 0L
    val t1 = timeOf { c1 = run(60000) }
    val t10 = timeOf { c10 = run(600000) }
    assert(c1 == 30000L, s"every 1x chain node labeled 0, got $c1")
    assert(c10 == 300000L, s"every 10x chain node labeled 0, got $c10")
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    // 10x rows × (19/15 rounds) ≈ 12.7 is the linear expectation
    assert(ratio < 16.0,
      f"giant-component CC must stay near-linear: 10x took $ratio%.1fx")
  }

  test("embedding LSH with cap survives 10x duplicated vectors sub-quadratically") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    // WORST case for hyperplane LSH: 10 identical copies of every
    // vector — every copy group collapses into the same buckets, so
    // bucket sizes grow 10x. The cap must keep candidate generation
    // bounded; without it this goes quadratic in the duplication
    // factor times corpus.
    val t = timeOf {
      Dedup.embeddingNearDups(tenXEmbeddings, "embedding", "vec_id", dim = 64,
        threshold = 0.95, nPlanes = 8, nTables = 8, maxBucketSize = 100).count()
    }
    info(f"10x duplicated embeddings with cap: $t%.1fs")
    assert(t < 120.0, f"capped embedding LSH took $t%.1fs — cap not engaging?")
  }

  test("knn graph completes on 10x duplicated embeddings (bucket cap bounds the edge blow-up)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    // every copy group shares every bucket — without the cap this is
    // an m^2 directed-edge bomb per bucket; with it, dropped
    // mega-buckets bound the candidate set
    val t = timeOf {
      graft.operators.Similarity.knnGraph(tenXEmbeddings, "embedding", "vec_id",
          dim = 64, k = 10, nPlanes = 8, nTables = 8, maxBucketSize = 1000)
        .agg(count("*")).collect()
    }
    info(f"10x duplicated embeddings knn graph: $t%.1fs")
    assert(t < 180.0, f"capped knn graph took $t%.1fs — cap not engaging?")
  }

  /** 10 identical copies of every sf0.1 vector under disjoint ids —
    * the worst case for any bucketing scheme (every copy group lands
    * in one bucket/cell).
    */
  private def tenXEmbeddings = {
    val base = spark.read.parquet(sf("sf0.1") + "/embeddings.parquet")
    (0 until 10).map { k =>
      base.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"), col("embedding"))
    }.reduce(_ union _)
  }

  /** n token-suffixed sf0.1 copies under disjoint ids — mutually
    * shingle-disjoint batches for the incremental-ingest stress.
    */
  private def suffixedCopies(n: Int) = {
    val base = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
      .select("doc_id", "text")
    (0 until n).map { k =>
      base.select(
        (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"_$k"))), " ").as("text"))
    }
  }

  test("incremental minhash: per-batch wall stays flat as the index grows over 10 batches") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10-batch stress point: set GRAFT_STRESS=1 (takes minutes)")
    // Each batch dedups against an index that has absorbed all prior
    // batches. Batches are shingle-disjoint, so survivors ≈ constant
    // per batch and the index grows linearly — a super-linear
    // per-batch wall can only come from the candidate join degrading
    // with index size (uncapped buckets / resident-index scans).
    val idx = java.nio.file.Files.createTempDirectory("graft_stress_idx")
      .resolve("index").toString
    var committed = 0L
    val times = suffixedCopies(10).zipWithIndex.map { case (df, k) =>
      val t = timeOf {
        val surv = Dedup.incrementalMinhash(df, "text", "doc_id", idx,
          shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5)
        val n = surv.count()
        Dedup.commitMinhash(surv, "text", "doc_id", idx,
          shingleSize = 3, numHashes = 128, bands = 32)
        committed += n
      }
      info(f"batch $k: $t%.1fs (index now $committed docs)")
      t
    }
    // batch 1 is the first to take the index path; batch 9 joins an
    // index 9x larger — the wall must not scale with index size
    val ratio = times.last / times(1)
    assert(ratio < 5.0,
      f"per-batch wall grew ${ratio}%.1fx from batch 1 to batch 9 — index join degrading")
    // index stays O(committed docs): one sig row per doc, and nothing
    // else — band keys are derived from the signatures at probe time
    val sigs = spark.read.parquet(s"$idx/sigs").count()
    assert(sigs == committed, s"sigs=$sigs committed=$committed")
    assert(!new java.io.File(s"$idx/bands").exists(), "no bands/ dataset")
  }

  test("semantic dedup with cell cap survives 10x duplicated vectors sub-quadratically") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    // worst case for cell-bucketed dedup: each k-means cell's
    // population grows 10x and the within-cell pair count would grow
    // 100x without the cap
    val t = timeOf {
      Dedup.semanticDedup(tenXEmbeddings, "embedding", "vec_id",
        nCells = 16, threshold = 0.95, lloydIters = 1, maxCellSize = 200).count()
    }
    info(f"10x duplicated embeddings, capped cells: $t%.1fs")
    assert(t < 120.0, f"capped semantic dedup took $t%.1fs — cell cap not engaging?")
  }

  test("substring dedup + strip stay near-linear at 10x (doc-keyed window / array join)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    // suffixed copies share ZERO grams across groups → duplicated-span
    // structure scales exactly 10x; a gram-keyed window or an uncapped
    // token shuffle would blow past linear
    val (one, ten) = tenX
    import graft.operators.TextAnalysis
    def run(df: org.apache.spark.sql.DataFrame): Unit = {
      TextAnalysis.substringDedup(df, "doc_id", "text", gramSize = 5)
        .agg(sum("n_dup_grams")).collect()
      TextAnalysis.substringStrip(df, "doc_id", "text", gramSize = 5)
        .agg(sum("n_tokens_removed")).collect()
    }
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"substring dedup/strip must scale near-linearly: 10x took $ratio%.1fx")
  }

  test("lmScore stays near-linear at 10x (token-keyed aggregates + slim joins)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    // suffixing grows the VOCAB 10x too — the bigram/unigram count
    // tables and their joins must scale with corpus size, not blow up
    val (one, ten) = tenX
    import graft.operators.TextAnalysis
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      TextAnalysis.lmScore(df, "doc_id", "text")
        .agg(sum("n_bigrams")).collect()
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"lmScore must scale near-linearly: 10x took $ratio%.1fx")
  }

  test("dsirSample stays near-linear at 10x (config-sized model, bounded top-k)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    // vocab grows 10x with the suffixed copies, but the model is
    // numBuckets rows regardless — only the corpus scan should scale
    val (one, ten) = tenX
    import graft.operators.Sampling
    def run(df: org.apache.spark.sql.DataFrame): Unit = {
      val target = df.filter(pmod(col("doc_id"), lit(2L)) === 0L)
      Sampling.dsirSample(df, target, "doc_id", "text",
        numBuckets = 1024, k = 100).collect()
    }
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"dsirSample must scale near-linearly: 10x took $ratio%.1fx")
  }

  test("kmvOverlapMatrix: 10x rows and 10x groups, pairs grow 100x, wall stays bounded") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    val (one, ten) = tenX
    import graft.operators.Sketches
    // group key = copy id (derived from the doc_id offset): 1 group
    // at 1x, 10 groups at 10x — sketches stay k longs per group, the
    // pair join grows quadratically in GROUPS (tiny), not in rows
    def run(df: org.apache.spark.sql.DataFrame): Long =
      Sketches.kmvOverlapMatrix(
        df.withColumn("grp", (col("doc_id") / 10000000L).cast("long")),
        "grp", "text", k = 256).count()
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"grouped KMV sketches must scale with rows, not pairs x rows: $ratio%.1fx")
  }

  test("pageRank: 10x nodes/edges stays near-linear (node-keyed joins, integer sums)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    import graft.operators.Graphs
    // synthetic ring-with-chords graph: n nodes, 3 out-edges each —
    // the degree profile of a k-NN graph without the LSH build cost
    def edges(n: Long) = spark.range(n).select(col("id"))
      .select(col("id").as("src"),
        explode(array(
          pmod(col("id") + 1L, lit(n)),
          pmod(col("id") + 7L, lit(n)),
          pmod(col("id") * 31L + 3L, lit(n)))).as("dst"))
      .filter(col("src") =!= col("dst"))
    def run(n: Long): Unit = Graphs.pageRank(edges(n), iterations = 5).count()
    run(100000L) // warm-up
    val t1 = timeOf(run(100000L))
    val t10 = timeOf(run(1000000L))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"pageRank must scale near-linearly in edges: 10x took $ratio%.1fx")
  }

  test("labelPropagation: 10x nodes/edges stays near-linear (agg-based mode, no hub window)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    import graft.operators.Graphs
    def edges(n: Long) = spark.range(n).select(col("id"))
      .select(col("id").as("src"),
        explode(array(
          pmod(col("id") + 1L, lit(n)),
          pmod(col("id") + 7L, lit(n)),
          pmod(col("id") * 31L + 3L, lit(n)))).as("dst"))
      .filter(col("src") =!= col("dst"))
    def run(n: Long): Unit = {
      val seeds = spark.range(0, n, 5)
        .select(col("id"), pmod(col("id"), lit(10L)).cast("int").as("label"))
      Graphs.labelPropagation(edges(n), seeds, iterations = 3).count()
    }
    run(100000L) // warm-up
    val t1 = timeOf(run(100000L))
    val t10 = timeOf(run(1000000L))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"labelPropagation must scale near-linearly: 10x took $ratio%.1fx")
  }

  test("pageRank: 10x nodes/edges stays near-linear (persisted edges, checkpointed ranks)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    import graft.operators.Graphs
    def edges(n: Long) = spark.range(n).select(col("id"))
      .select(col("id").as("src"),
        explode(array(
          pmod(col("id") + 1L, lit(n)),
          pmod(col("id") + 7L, lit(n)),
          pmod(col("id") * 31L + 3L, lit(n)))).as("dst"))
      .filter(col("src") =!= col("dst"))
    def run(n: Long): Unit =
      Graphs.pageRank(edges(n), iterations = 5).count()
    run(100000L) // warm-up
    val t1 = timeOf(run(100000L))
    val t10 = timeOf(run(1000000L))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"pageRank must scale near-linearly: 10x took $ratio%.1fx")
  }

  test("winnowing + winnowingPairs: 10x corpus stays near-linear (one native pass per doc)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    // The r7 regression class: nested-HOF fingerprinting was ~O(g²·w)
    // per doc and >300 s/query at sf0.1 — the native expression must
    // hold both the absolute wall AND the 10x ratio. Token-suffixed
    // copies share zero grams across groups, so pair structure scales
    // exactly 10x.
    val (one, ten) = tenX
    import graft.operators.TextAnalysis
    def run(df: org.apache.spark.sql.DataFrame): Unit = {
      TextAnalysis.winnowing(df, "doc_id", "text", gramSize = 5, w = 4)
        .agg(sum("n_fingerprints")).collect()
      TextAnalysis.winnowingPairs(df, "doc_id", "text", gramSize = 5, w = 4,
        minShared = 2, maxBucketSize = 50).count()
    }
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(t1 < 60.0, f"sf0.1 winnowing pair must run in seconds, took $t1%.1fs")
    assert(ratio < 15.0,
      f"winnowing must scale near-linearly: 10x took $ratio%.1fx")
  }

  test("covarianceMatrix: 10x vectors stays near-linear (one moment buffer per partition)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    import graft.operators.Similarity
    val one = spark.read.parquet(sf("sf0.1") + "/embeddings.parquet")
      .select("vec_id", "embedding")
    val ten = tenXEmbeddings
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      Similarity.covarianceMatrix(df, "embedding", dim = 64)
        .agg(sum("cov")).collect()
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"moment aggregation must scale near-linearly: 10x took $ratio%.1fx")
  }

  test("classifierScore: 10x corpus stays near-linear (plan-literal model, one scan pass)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    import graft.operators.TextAnalysis
    val (one, ten) = tenX
    val weights = spark.range(4096).select(
      col("id").as("bucket"),
      (pmod(col("id") * 2654435761L, lit(2001L)) - 1000L).as("weight_q"))
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      TextAnalysis.classifierScore(df, "doc_id", "text", weights, numBuckets = 4096)
        .agg(sum("logit_q")).collect()
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"classifier scoring must scale near-linearly: 10x took $ratio%.1fx")
  }

  test("bm25Search: 10x corpus stays near-linear (query-term postings only shuffle)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    val (one, ten) = tenX
    import graft.operators.TextAnalysis
    // suffixed copies rewrite tokens, so query the base spellings
    // plus one suffixed spelling — postings stay a corpus sliver
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      TextAnalysis.bm25Search(df, "doc_id", "text",
        Seq("spark", "window", "join", "spark_3"), k = 50).collect()
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"bm25 must scale near-linearly: 10x took $ratio%.1fx")
  }

  test("kmeansAssign: 10x vectors stays near-linear (narrow assignment, cells*dim shuffle)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    import graft.operators.Similarity
    val one = spark.read.parquet(sf("sf0.1") + "/embeddings.parquet")
    val ten = tenXEmbeddings
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      Similarity.kmeansAssign(df, "embedding", "vec_id", nCells = 16, iters = 3).count()
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"k-means must scale near-linearly in rows: 10x took $ratio%.1fx")
  }

  test("deterministicShuffle: 10x corpus stays near-linear (range rank, no global sort task)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    val (one, ten) = tenX
    import graft.operators.Sampling
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      Sampling.deterministicShuffle(df, "doc_id", "s1").count()
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"deterministic shuffle must scale near-linearly: 10x took $ratio%.1fx")
  }

  test("edit-distance dedup: 10x corpus with capped buckets stays near-linear") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    val (one, ten) = tenX
    import graft.operators.Dedup
    // suffixed copies are pairwise shingle-disjoint, so candidate
    // counts scale with rows; the bounded levenshtein kernel runs
    // only on surviving same-copy candidates
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      Dedup.editDistanceNearDups(df, "text", "doc_id", maxDist = 16,
        shingleSize = 3, numHashes = 128, bands = 32).count()
    run(one) // warm-up
    val t1 = timeOf(run(one))
    val t10 = timeOf(run(ten))
    val ratio = t10 / t1
    info(f"1x: $t1%.1fs   10x: $t10%.1fs   ratio: $ratio%.1f")
    assert(ratio < 15.0,
      f"edit-distance dedup must scale near-linearly: 10x took $ratio%.1fx")
  }

  test("triangleStats: a hub owning 1/3 of all edges costs the same as a balanced graph (degree ordering)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "hub stress point: set GRAFT_STRESS=1 (takes minutes)")
    import graft.operators.Graphs
    // 1.5M edges. balanced: random sparse graph on 500k nodes.
    // hub: the same PLUS node 0 connected to 500k distinct nodes — the
    // unordered node-iterator enumerates ~(500k)^2/2 wedges at the hub
    // (plan death); degree orientation caps the hub's OUT-degree so
    // near-equal wall time is the contract.
    def sparse(n: Long) = spark.range(0, n).select(
      (col("id") % 500000L).as("id_a"),
      ((col("id") * 2654435761L + 13L) % 500000L).as("id_b"))
    def hub = spark.range(0, 500000).select(
      lit(0L).as("id_a"), (col("id") + 1L).as("id_b"))
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      Graphs.triangleStats(df).agg(count("*")).collect()
    run(sparse(100000)) // warm-up
    val tBal = timeOf(run(sparse(1500000)))
    val tHub = timeOf(run(sparse(1000000).union(hub)))
    info(f"balanced: $tBal%.1fs   hub: $tHub%.1fs   ratio: ${tHub / tBal}%.2f")
    assert(tHub < tBal * 3 + 5.0,
      f"degree ordering must neutralize the hub: $tHub%.1fs vs $tBal%.1fs")
  }

  test("domainQuality: one domain holding 50% of a 1M-doc corpus costs the same as a balanced one") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "skew stress point: set GRAFT_STRESS=1 (takes minutes)")
    import graft.operators.TextAnalysis
    // 1M docs: balanced = 1000 domains x 1000 docs; skewed = one hot
    // domain owns 500k (half of them dups). The two-level aggregation
    // map-side combines (src, fp) counts, so the hot domain must NOT
    // cost a hot-key shuffle — near-equal wall time is the contract.
    def corpus(hot: Boolean) = spark.range(0, 1000000).select(
      col("id").as("doc_id"),
      (if (hot) when(col("id") < 500000, lit("hot.com"))
          .otherwise(concat(lit("d"), col("id") % 1000))
       else concat(lit("d"), col("id") % 1000)).as("source"),
      concat(lit("body text token stream number "), col("id") % 200000).as("text"))
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      TextAnalysis.domainQuality(df, "doc_id", "source", "text")
        .agg(count("*")).collect()
    run(corpus(hot = false)) // warm-up
    val tBal = timeOf(run(corpus(hot = false)))
    val tHot = timeOf(run(corpus(hot = true)))
    info(f"balanced: $tBal%.1fs   hot-domain: $tHot%.1fs   ratio: ${tHot / tBal}%.2f")
    assert(tHot < tBal * 3 + 2.0,
      f"hot domain must not introduce a skew bottleneck: $tHot%.1fs vs $tBal%.1fs")
  }

  test("cooccurrence: a 1M-event power user costs the same as quiet users (distinct-first)") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "skew stress point: set GRAFT_STRESS=1 (takes minutes)")
    import graft.operators.EventAnalytics
    // baseline: 2M events over 100k users x 4 types. skewed: same plus
    // ONE user contributing 1M more events across the same 4 types —
    // distinct (user,type) first means the power user adds 4 rows to
    // the self-join, not 10^12 pairs.
    val types = array(lit("a"), lit("b"), lit("c"), lit("d"))
    def base = spark.range(0, 2000000).select(
      (col("id") % 100000).as("u"), element_at(types, (col("id") % 4 + 1).cast("int")).as("et"))
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      EventAnalytics.cooccurrence(df, "u", "et").collect()
    run(base) // warm-up
    val tBase = timeOf(run(base))
    val power = spark.range(0, 1000000).select(
      lit(999999L).as("u"), element_at(types, (col("id") % 4 + 1).cast("int")).as("et"))
    val tPower = timeOf(run(base.union(power)))
    info(f"base: $tBase%.1fs   +1M-event power user: $tPower%.1fs   ratio: ${tPower / tBase}%.2f")
    assert(tPower < tBase * 3 + 2.0,
      f"power user must cost ~one distinct row per type: $tPower%.1fs vs $tBase%.1fs")
  }

  test("activity Gini: sort+zipWithIndex rank path near-linear from 300k to 3M users") {
    assume(sys.env.contains("GRAFT_STRESS"),
      "10x stress point: set GRAFT_STRESS=1 (takes minutes)")
    import graft.operators.EventAnalytics
    // power-law activity (count ~ 1 + id % 97 spread) so the ranked
    // frame has heavy ties AND a long tail; the rank path must stay a
    // range-partitioned sort + one offset pass — never a
    // single-partition window — so 10x users costs ~10x.
    def corpus(users: Long) = spark.range(0, users * 3).select(
      pmod(col("id") * 2654435761L, lit(users)).as("u"), col("id").as("ts"))
    def run(users: Long): Unit =
      EventAnalytics.activityConcentration(corpus(users), "u").collect()
    run(300000L) // warm-up
    val t1 = timeOf(run(300000L))
    val t10 = timeOf(run(3000000L))
    info(f"300k users: $t1%.1fs   3M users: $t10%.1fs   ratio: ${t10 / t1}%.1f")
    assert(t10 / t1 < 15.0,
      f"distributed ranks must scale near-linearly: ${t10 / t1}%.1fx for 10x users")
  }
}
