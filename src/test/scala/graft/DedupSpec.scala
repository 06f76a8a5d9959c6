package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Dedup + similarity behavior on planted near-duplicates, plus
  * LSH-vs-exact recall checks on the synthetic corpus.
  */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  private def planted = {
    val base = "the quick brown fox jumps over the lazy dog again and again until done"
    val nearDup = base.replace("lazy", "sleepy") // 1-word edit
    val other = "completely different text about spark catalyst optimizer rules and plans"
    Seq((1L, base), (2L, nearDup), (3L, other), (4L, base)).toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized text") {
    val groups = Dedup.exact(planted, "text", "doc_id")
    val dup = groups.filter(col("n_docs") === 2).collect()
    assert(dup.length == 1 && dup(0).getAs[Long]("canonical_id") == 1L)
  }

  test("minhash LSH finds the planted near-dup pair") {
    val pairs = Dedup.minhashNearDups(planted, "text", "doc_id",
      shingleSize = 2, numHashes = 64, bands = 32, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
    assert(pairs.contains((1L, 4L)), "exact dup is also a near-dup")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc not paired")
  }

  test("containment near-dups: embedded doc scores 1.0 where jaccard under-scores") {
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " one two three four five six seven eight nine ten eleven twelve"
    val other = "totally unrelated words about query planners and shuffles here"
    val df = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.containmentNearDups(df, "text", "doc_id", shingleSize = 2,
        numHashes = 64, bands = 32, threshold = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((1L, 2L)).contains(1.0),
      s"every shingle of the small doc is in the big one → containment 1.0: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc not paired")
    // the same pair under symmetric jaccard: far below the embed signal
    val jac = Dedup.minhashNearDups(df, "text", "doc_id", shingleSize = 2,
        numHashes = 64, bands = 32, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(jac.get((1L, 2L)).exists(_ < 0.5), s"jaccard under-scores the embed: $jac")
  }

  test("sorted-neighborhood: prefix-sorted window pairs the planted dups, skips far ranks") {
    // Keys sort as: doc1/doc2/doc4 share the "the quick brown" prefix
    // (adjacent ranks), doc3 sorts elsewhere — with window=3 the three
    // prefix-neighbors pair up and doc3 never enters a pair.
    val pairs = Dedup.sortedNeighborhoodNearDups(planted, "text", "doc_id",
        window = 3, keyLen = 24, shingleSize = 2, threshold = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((1L, 4L)).contains(1.0), s"exact dup pair at jaccard 1.0: $pairs")
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)),
      s"near-dup neighbors inside the window: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L),
      s"doc 3 sorts outside the neighborhood: $pairs")
  }

  test("sorted-neighborhood: window bounds candidates — rank distance >= w never pairs") {
    // Ten identical docs with ids 0..9: every pair verifies at 1.0,
    // but a window of 4 only admits rank distances 1..3 — candidate
    // count is exactly sum over rows of trailing neighbors, 9+8+7+...
    // truncated at 3 = 3·10 − (1+2+3) = 24.
    val docs = (0L until 10L).map(i => (i, "same text for every doc here")).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodNearDups(docs, "text", "doc_id",
        window = 4, keyLen = 24, shingleSize = 2, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // key ties broken by id, so rank == doc_id: pairs are exactly (i, i+d), d in 1..3
    val want = (for (i <- 0L until 10L; d <- 1L to 3L if i + d < 10L) yield (i, i + d)).toSet
    assert(got == want, s"expected exactly the rank-window pairs: got ${got.size}, want ${want.size}")
  }

  test("snm multipass: reversed-suffix pass catches a prefix-edited dup pass 1 misses; pairs dedup") {
    // Docs 1 and 2 share a long body but differ in their FIRST words —
    // the single-pass blocking key (prefix) sorts them 9 ranks apart
    // (8 distractors between), so window=3 can never pair them. The
    // reversed-text key sorts by the (identical) suffix, making them
    // rank-adjacent in pass 2. Docs 20/21 are identical, adjacent in
    // BOTH passes — the union must still emit their pair exactly once.
    val common = "shared body of text long enough that the jaccard is dominated " +
      "by these many common words across the whole document"
    val a = "zulu head " + common
    val b = "alpha head " + common
    // each distractor gets fully disjoint vocabulary (word w$i$k) so
    // no distractor-distractor bigram ever repeats across documents
    val distractors = Seq("bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india").zipWithIndex.map { case (p, i) =>
      (10L + i, s"$p " + (0 until 12).map(k => s"w$i${('a' + k).toChar}").mkString(" "))
    }
    val twins = Seq((20L, "mike twin document with identical text"),
      (21L, "mike twin document with identical text"))
    val docs = (Seq((1L, a), (2L, b)) ++ distractors ++ twins).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
    val single = pairSet(Dedup.sortedNeighborhoodNearDups(docs, "text", "doc_id",
      window = 3, keyLen = 24, shingleSize = 2, threshold = 0.4))
    assert(!single.contains((1L, 2L)),
      s"prefix-pass alone must MISS the prefix-edited dup (the documented blind spot): ${single.toSeq}")
    val multi = pairSet(Dedup.sortedNeighborhoodMultiPass(docs, "text", "doc_id",
      window = 3, keyLen = 24, shingleSize = 2, threshold = 0.4))
    assert(multi.contains((1L, 2L)),
      s"reversed-suffix pass must catch the prefix-edited dup: ${multi.toSeq}")
    assert(multi.contains((20L, 21L)), s"identical twins pair: ${multi.toSeq}")
    assert(multi.length == multi.toSet.size,
      s"a pair blocked by both passes must appear exactly once: ${multi.toSeq}")
    assert(!multi.exists(p => p._1 >= 10L && p._1 <= 17L || p._2 >= 10L && p._2 <= 17L),
      s"distractors never pair: ${multi.toSeq}")
    // multi ⊇ single: extra passes only ADD candidates
    assert(single.toSet.subsetOf(multi.toSet), "multipass is a superset of single-pass")
  }

  test("simhash near-dups: identical docs at hamming 0, near at small distance") {
    val sigs = planted.select(col("doc_id"), Dedup.simhashPortable(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(4L), "identical text → identical simhash")
    val d12 = java.lang.Long.bitCount(sigs(1L) ^ sigs(2L))
    val d13 = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(d12 < d13, s"near-dup hamming $d12 should be < unrelated $d13")
  }

  test("minhash LSH recall vs exact jaccard on synthetic documents (sf0.001)") {
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH pairs are exact-verified, so ⊆ exact")
    val recall = if (exact.isEmpty) 1.0 else lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall over ${exact.size} true pairs")
  }

  test("embedding LSH near-dups ⊆ exact cosine pairs") {
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
    val lsh = Dedup.embeddingNearDups(emb, "embedding", "vec_id", dim = 64,
      threshold = 0.4, nPlanes = 8, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    import graft.functions.VectorFunctions.cosine
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val exact = v.select(col("vec_id").as("id_a"), col("v").as("va"))
      .join(v.select(col("vec_id").as("id_b"), col("v").as("vb")), col("id_a") < col("id_b"))
      .filter(cosine(col("va"), col("vb")) >= 0.4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty, "some high-cosine pairs recalled")
  }

  test("embedding LSH: degenerate all-identical-vector bucket is capped, not quadratic") {
    // 500 identical vectors hash to ONE sign pattern in every table —
    // uncapped, that bucket alone yields 500·499/2 ≈ 125k candidate
    // pairs (and m² at any m: the skew bomb). With the cap they are
    // dropped entirely: zero candidates reach the cosine verify.
    val ident = (0L until 500L).map(i => (i, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(ident, "embedding", "vec_id", dim = 8,
      threshold = 0.9, nPlanes = 4, nTables = 2, maxBucketSize = 100)
    assert(pairs.isEmpty, "capped mega-buckets produce no candidate pairs")
    // sanity: the same data under a loose cap DOES pair up — the cap,
    // not a broken bucket key, is what suppressed the pairs above
    val loose = Dedup.embeddingNearDups(ident.limit(20), "embedding", "vec_id", dim = 8,
      threshold = 0.9, nPlanes = 4, nTables = 2, maxBucketSize = 1000)
    assert(loose.count() == 20L * 19 / 2, "under the cap all identical pairs verify at cosine 1")
  }

  test("semantic dedup: one representative survives per duplicate group, k-means path") {
    // two exact-duplicate groups + two singletons; whatever cells the
    // vectors land in, each duplicate group must collapse to its
    // lowest id and the singletons must survive
    val vecs = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)), (2L, Array(1.0f, 0f, 0f, 0f)),
      (7L, Array(1.0f, 0f, 0f, 0f)),
      (3L, Array(0f, 1.0f, 0f, 0f)), (4L, Array(0f, 1.0f, 0f, 0f)),
      (5L, Array(0f, 0f, 1.0f, 0f)), (6L, Array(0f, 0f, 0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val survivors = Dedup.semanticDedup(vecs, "embedding", "vec_id",
      nCells = 4, threshold = 0.99, lloydIters = 2)
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 3L, 5L, 6L), s"got $survivors")
  }

  test("semantic dedup: over-full cells are capped (no quadratic pair blowup), nothing dropped") {
    // 500 identical vectors in one cell: with maxCellSize below 500
    // the cell is skipped — no pairs form, every row survives (the
    // documented recall-for-safety trade, same as the LSH bucket cap)
    val ident = (0L until 500L).map(i => (i, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val capped = Dedup.semanticDedup(ident, "embedding", "vec_id",
      nCells = 2, threshold = 0.9, lloydIters = 0, maxCellSize = 100)
    assert(capped.count() == 500, "capped cell forms no pairs; all rows survive")
    val uncapped = Dedup.semanticDedup(ident.limit(20), "embedding", "vec_id",
      nCells = 2, threshold = 0.9, lloydIters = 0)
    assert(uncapped.count() == 1, "under the cap the duplicate group collapses to one")
  }

  test("IVF top-k recall vs brute force") {
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
    val corpus = emb.filter(col("vec_id") >= 5)
    val queries = emb.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(corpus, queries, "embedding", "vec_id", 10,
      nCells = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.5, s"IVF@nprobe=4/8 recall $recall vs brute force")
  }

  test("PQ top-k recall vs exact L2, and 64x compression really holds") {
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
    val corpus = emb.filter(col("vec_id") >= 5)
    val queries = emb.filter(col("vec_id") < 5)
    // exact L2 top-10 (PQ approximates squared L2, not cosine)
    import graft.functions.VectorFunctions.sqDist
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col("vec_id").as("corpus_id"), col("embedding").cast("array<double>").as("cv"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("d").asc, col("corpus_id").asc)
    val exact = c.crossJoin(q)
      .select(col("query_id"), col("corpus_id"), sqDist(col("qv"), col("cv")).as("d"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(corpus, queries, "embedding", "vec_id", 10,
      m = 8, ksub = 16, lloydIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcRecall = pq.intersect(exact).size.toDouble / exact.size
    info(f"pure-ADC PQ recall@10 vs exact L2: $adcRecall%.2f")
    assert(adcRecall >= 0.1, s"pure ADC (32 bits/vector) recall $adcRecall")
    // the production two-stage form: ADC shortlist of 50, exact re-rank
    // the production two-stage form at finer quantization (m=16 → 64
    // bits/vector, still 8x compression): ADC shortlist, exact re-rank
    val rr = Similarity.pqTopK(corpus, queries, "embedding", "vec_id", 10,
      m = 16, ksub = 16, lloydIters = 2, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrRecall = rr.intersect(exact).size.toDouble / exact.size
    info(f"m=16 shortlist-50 + exact-rerank recall@10: $rrRecall%.2f")
    assert(rrRecall >= 0.6, s"rerank recall $rrRecall vs exact L2")
    // compression claim: encoded corpus carries m ints per vector
    // m must divide dim — silent truncation would break code indexing
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(corpus, queries, "embedding", "vec_id", 10, m = 7)
    }
    val cb = Similarity.kmeansCentroids(c, 16, lloydIters = 0)
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val codes = c.select(column(graft.plans.PqEncode(expression(col("cv")), cb.toSeq.map(_.toSeq), 8)).as("codes"))
      .collect()
    assert(codes.forall(_.getSeq[Int](0).length == 8), "64 doubles -> 8 codes")
  }

  test("incremental exact dedup: commit-after-write keeps retries safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString + "/index"
    val batch1 = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "ALPHA   beta")) // 3 dups 1
      .toDF("doc_id", "text")
    val out1 = Dedup.incrementalExact(batch1, "text", "doc_id", dir)
    assert(out1.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "within-batch dup collapsed to min id")
    // idempotency: BEFORE the commit, a retry of the same batch sees
    // the same survivors — a failed downstream write loses nothing
    val retry = Dedup.incrementalExact(batch1, "text", "doc_id", dir)
    assert(retry.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "pre-commit retry returns the full batch again")
    Dedup.commitFingerprints(out1, "text", dir) // the batch is now 'durably written'
    val batch2 = Seq((10L, "alpha beta"), (11L, "delta"), (12L, "gamma"))
      .toDF("doc_id", "text")
    val out2 = Dedup.incrementalExact(batch2, "text", "doc_id", dir)
    assert(out2.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L),
      "only the genuinely new doc survives batch 2")
    Dedup.commitFingerprints(out2, "text", dir)
    val batch3 = Seq((20L, "delta")).toDF("doc_id", "text")
    assert(Dedup.incrementalExact(batch3, "text", "doc_id", dir).isEmpty,
      "batch-2 survivor's committed fingerprint blocks batch 3")
  }

  test("incremental minhash dedup: near-dups blocked within batch and across batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_idx").toString + "/index"
    val base = "the quick brown fox jumps over the lazy dog again and again until quite done"
    val near = base.replace("lazy", "sleepy")              // 1-word edit: high jaccard
    val near2 = base.replace("quick", "rapid")             // another near-dup of base
    val other = "completely different text about spark catalyst optimizer rules and planning"
    val cfg = (df: org.apache.spark.sql.DataFrame) =>
      Dedup.incrementalMinhash(df, "text", "doc_id", dir,
        shingleSize = 3, threshold = 0.5)
    val batch1 = Seq((1L, base), (2L, other), (3L, near)).toDF("doc_id", "text")
    val out1 = cfg(batch1)
    assert(out1.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "within-batch near-dup (3 ~ 1) collapsed to the lowest id")
    // pre-commit retry: index untouched, same survivors
    assert(cfg(batch1).select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    Dedup.commitMinhash(out1, "text", "doc_id", dir, shingleSize = 3)
    val batch2 = Seq((10L, near2), (11L, "fresh unrelated content entirely new tokens here"))
      .toDF("doc_id", "text")
    val out2 = cfg(batch2)
    assert(out2.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L),
      "near-dup of an INDEXED doc dropped cross-batch via signature-estimate verify")
    Dedup.commitMinhash(out2, "text", "doc_id", dir, shingleSize = 3)
    val batch3 = Seq((20L, "fresh unrelated content entirely new tokens here too"))
      .toDF("doc_id", "text")
    assert(cfg(batch3).isEmpty,
      "batch-2 survivor's committed bands block its batch-3 near-dup")
  }

  test("minhashDecontaminate drops fuzzy benchmark copies, keeps incidental overlap") {
    val bench = "what is the capital of france the answer is paris of course everyone knows"
    val leaked = bench.replace("everyone", "anybody")  // lightly edited copy
    val clean = "completely different text about spark catalyst optimizer rules and planning"
    // shares the common phrase "the capital of france" (2 shingles) but
    // is not a benchmark copy — aggregate jaccard far below threshold
    val phrase = "the capital of france is a common trivia question in quizzes worldwide today"
    val corpus = Seq((100L, leaked), (101L, clean), (102L, phrase)).toDF("doc_id", "text")
    val benchmark = Seq((1L, bench)).toDF("doc_id", "text")
    val kept = Dedup.minhashDecontaminate(corpus, benchmark, "text", "doc_id",
      shingleSize = 3, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(101L, 102L),
      s"edited copy removed, clean + incidental-phrase docs kept; got $kept")
    // the false-positive contrast that motivates the fuzzy form: exact
    // ANY-shingle decontamination also nukes the incidental-phrase doc
    val exactKept = Dedup.decontaminate(corpus, benchmark, "text", "doc_id", 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactKept == Set(101L),
      s"exact decontaminate drops the shared-phrase doc too, got $exactKept")
  }

  test("incremental exact dedup: durable staging variant survives re-reads") {
    val base = java.nio.file.Files.createTempDirectory("graft_dedup_stg").toString
    val dir = base + "/index"; val stage = base + "/staging"
    val batch = Seq((1L, "alpha"), (2L, "beta"), (3L, "ALPHA")).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, "text", "doc_id", dir, Some(stage))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // the survivors are durably on disk (not executor-local blocks):
    // an independent read of the staging dir sees the same rows
    assert(spark.read.parquet(stage).count() == 2)
    assert(out.columns.toSet == Set("doc_id", "text"), "__fp not leaked")
  }

  test("connected components: 100-deep chain converges via pointer doubling") {
    // plain O(diameter) propagation would need 100 rounds and silently
    // truncate at maxIter=20; pointer doubling needs ~log2(100) ≈ 7
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 101)
    assert(cc.values.forall(_ == 0L), "every chain node labeled with the min id 0")
  }

  test("native md5Hash60 equals the conv(substring(md5)) column form") {
    val strs = Seq("", "a", "hello world", "ünïcødé ⚡", "x" * 100, "the quick brown fox")
    val df = strs.toDF("s")
    val colForm = df.select(Dedup.portableHash60(col("s")).as("h")).collect().map(_.getLong(0))
    val native = strs.map(s =>
      graft.plans.TextExprs.md5Hash60(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    assert(colForm.toSeq == native, "portable hash parity between column form and native loop")
  }

  test("connected components: chains and triangles collapse to min id") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),          // chain 1-2-3
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (20L, 21L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                     10L -> 10L, 11L -> 10L, 12L -> 10L,
                     20L -> 20L, 21L -> 20L))
  }

  test("native vector expressions match HOF reference formulation bit-exactly") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet")).limit(50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val hofDot = aggregate(zip_with(col("v"), col("v"), (x, y) => x * y), lit(0.0), (a, x) => a + x)
    val rows = emb.select(
      column(graft.plans.DotProduct(expression(col("v")), expression(col("v")))).as("native"),
      hofDot.as("hof")).collect()
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)), "bit-identical dot products")
  }

  test("int8 quantization: exact error bound, zero-vector guard, top-k agrees with float") {
    val vecs = Seq(
      (1L, Array(1.0, -0.5, 0.25, 0.0)),
      (2L, Array(0.0, 0.0, 0.0, 0.0)),
      (3L, Array(-2.0, 4.0, 1.0, -0.125))).toDF("vec_id", "v")
    val qz = Similarity.int8Quantize(vecs, "v", "vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Long](2))).toList
    val m = qz.map(t => t._1 -> t).toMap
    assert(m(1L)._3 == Seq(127L, -63L, 32L, 0L) && m(1L)._2 == 1.0 / 127.0)
    assert(m(2L)._3 == Seq(0L, 0L, 0L, 0L) && m(2L)._2 == 0.0, "zero vector: scale 0, no div-by-zero")
    // per-element reconstruction error ≤ m/254 (half a quantization step)
    for ((id, scale, q) <- qz; if id != 2L) {
      val orig = Map(1L -> Array(1.0, -0.5, 0.25, 0.0), 3L -> Array(-2.0, 4.0, 1.0, -0.125))(id)
      val bound = orig.map(math.abs).max / 254.0 + 1e-12
      orig.zip(q).foreach { case (o, qi) =>
        assert(math.abs(o - qi * scale) <= bound, s"id=$id elem $o vs ${qi * scale}") }
    }
    // quantized top-k ranks the same corpus vector first as exact float
    // cosine does on well-separated data (the recall contract at q=8bit)
    val corpus = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
      .filter(col("vec_id") >= 5)
    val queries = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
      .filter(col("vec_id") < 5)
    val int8Top1 = Similarity.int8TopK(corpus, queries, "embedding", "vec_id", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // float dot-product top-1 (same score family as int8TopK dequantized)
    val exactTop1 = {
      val c = corpus.select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("cv"))
      val q = queries.select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qv"))
      c.crossJoin(q)
        .select(col("qid"), col("cid"),
          aggregate(zip_with(col("qv"), col("cv"), (x, y) => x * y), lit(0.0), (a, x) => a + x).as("d"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid").orderBy(col("d").desc, col("cid"))))
        .filter(col("rn") === 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val agree = int8Top1.keys.count(k => int8Top1(k) == exactTop1(k))
    assert(agree >= 4, s"int8 top-1 agrees with float top-1 on >= 4/5 queries, got $agree: $int8Top1 vs $exactTop1")
  }

  test("hammingTopK: exact copy ranks first at hamming 0, negation ranks far") {
    import spark.implicits._
    val q = Seq((0L, Seq(1.0, -2.0, 0.5, 3.0, -1.5, 0.25, 2.0, -0.75)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (100L, Seq(1.0, -2.0, 0.5, 3.0, -1.5, 0.25, 2.0, -0.75)),  // identical
      (101L, Seq(-1.0, 2.0, -0.5, -3.0, 1.5, -0.25, -2.0, 0.75)), // negated
      (102L, Seq(1.1, -1.9, 0.4, 2.9, -1.4, 0.2, 2.1, -0.8))      // near-identical
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .hammingTopK(corpus, q, "embedding", "vec_id", dim = 8, k = 3, nBits = 16)
      .orderBy("rank").collect()
    assert(out(0).getAs[Long]("corpus_id") == 100L && out(0).getAs[Int]("hamming") == 0,
      "identical vector at hamming 0, rank 1")
    assert(out(1).getAs[Long]("corpus_id") == 102L, "near-identical second")
    val negH = out(2).getAs[Int]("hamming")
    assert(out(2).getAs[Long]("corpus_id") == 101L && negH > 8,
      s"negated vector flips (nearly) all sign bits, got hamming $negH")
  }

  test("knnGraph: bucket-mates rank by exact cosine; self excluded; k bounds degree") {
    // two tight clusters far apart in a 4-dim space: within-cluster
    // vectors share every LSH bucket (near-identical directions), so
    // each node's neighbor list is its own cluster ranked by cosine
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val rows = Seq(
      (0L, v(1.0, 0.0, 0.0, 0.0)),
      (1L, v(1.0, 0.01, 0.0, 0.0)),
      (2L, v(1.0, 0.05, 0.0, 0.0)),
      (10L, v(0.0, 0.0, 1.0, 0.0)),
      (11L, v(0.0, 0.0, 1.0, 0.01)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.knnGraph(df, "embedding", "vec_id", dim = 4, k = 2,
        nPlanes = 6, nTables = 4)
      .orderBy("src_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val bySrc = out.groupBy(_._1)
    // no self edges, at most k neighbors, cosine non-increasing by rank
    assert(out.forall { case (s, _, n, _) => s != n })
    assert(bySrc.values.forall(_.length <= 2))
    bySrc.values.foreach { es =>
      val cs = es.sortBy(_._2).map(_._4)
      assert(cs.sameElements(cs.sorted.reverse), cs.mkString(","))
    }
    // node 0's nearest bucket-mate is 1 (cos ~0.99995) before 2
    val n0 = bySrc(0L).sortBy(_._2).map(_._3)
    assert(n0.head == 1L && n0.toSeq == Seq(1L, 2L), s"node 0 neighbors: ${n0.toSeq}")
    // cluster separation: no cross-cluster edge survives the buckets
    assert(out.forall { case (s, _, n, _) => (s < 10) == (n < 10) },
      s"cross-cluster edges leaked: ${out.toSeq}")
  }

  test("labelOutliers: planted mislabeled vector ranks first in its label") {
    // label 0 clusters near +e1 with one anti-aligned plant (id 99);
    // label 1 clusters near +e2 with its plant at id 199
    def v(x: Double, y: Double, z: Double) = Array(x.toFloat, y.toFloat, z.toFloat)
    val rows = (0 until 20).map(i => (i.toLong, 0, v(1.0, 0.01 * i, 0.0))) ++
      Seq((99L, 0, v(-1.0, 0.0, 0.0))) ++
      (100 until 120).map(i => (i.toLong, 1, v(0.01 * (i - 100), 1.0, 0.0))) ++
      Seq((199L, 1, v(0.0, -1.0, 0.2)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val out = Similarity.labelOutliers(df, "embedding", "vec_id", "label", k = 3)
      .orderBy("label", "rank").collect()
    assert(out.length == 6, "k=3 per label")
    val first = out.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("vec_id")).toMap
    assert(first == Map(0 -> 99L, 1 -> 199L), s"plants must rank first, got $first")
    // cosine ascends within each label and the plant's is negative
    out.groupBy(_.getAs[Int]("label")).foreach { case (_, rs) =>
      val cs = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.head < 0.0 && cs.sameElements(cs.sorted), cs.mkString(","))
    }
  }

  test("linearScore: exact integer logit from the seed model, dim guard, threshold") {
    val dim = 3
    val w = Similarity.linearWeightsQ(dim, "linhead")
    val b = Similarity.linearBiasQ("linhead")
    def vq(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val rows = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),     // logit = bias exactly
      (3L, Array(1.0f, 1.0f))            // wrong dim -> NULL score, keep=false
    ).toDF("vec_id", "embedding")
    val out = Similarity.linearScore(rows, "embedding", "vec_id", dim)
      .orderBy("vec_id").collect()
    val exp1 = w(0) * vq(1.0f.toDouble) + w(1) * vq(-0.5f.toDouble) +
      w(2) * vq(0.25f.toDouble) + b
    assert(out(0).getLong(1) == exp1)
    assert(out(0).getBoolean(3) == (exp1 > 0L))
    assert(out(1).getLong(1) == b)
    assert(out(2).isNullAt(1) && !out(2).getBoolean(3))
    // score is the rounded 1e-9-scaled logit
    assert(out(0).getDouble(2) == math.floor(exp1 / 1e9 * 1e6 + 0.5) / 1e6)
    // threshold moves the keep frontier
    val strict = Similarity.linearScore(rows, "embedding", "vec_id", dim,
      thresholdQ = Long.MaxValue).orderBy("vec_id").collect()
    assert(strict.forall(!_.getBoolean(3)))
  }

  test("randomProjection: exact integer components from the seed matrix, dim guard") {
    val dim = 3; val outDim = 2
    val rows = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f)),
      (2L, Array(1.0f, 1.0f))          // wrong dim -> NULL projection
    ).toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(rows, "embedding", "vec_id", dim, outDim)
      .orderBy("vec_id").collect()
    def vq(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val v = Seq(vq(1.0f.toDouble), vq(-0.5f.toDouble), vq(0.25f.toDouble))
    val exp = (0 until outDim).map { j =>
      val w = Similarity.linearWeightsQ(dim, s"rproj:$j")
      (0 until dim).map(d => w(d) * v(d)).sum
    }
    assert(out(0).getSeq[Long](1) == exp, s"${out(0).getSeq[Long](1)} vs $exp")
    assert(out(1).isNullAt(1), "wrong-dimension vector projects to NULL")
  }

  test("editDistanceNearDups: planted few-edit copy found with exact distance; far pair dropped") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val threeEdits = "the quick brown fox jumps over the lazy cat and runs far away home tonight"
    // "dog" -> "cat": 3 substitutions. Shingles mostly shared → LSH
    // candidate; levenshtein must report exactly 3.
    val unrelated = "completely different content about spark catalyst optimizer internals here now"
    val docs = Seq((1L, base), (2L, threeEdits), (3L, unrelated))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.editDistanceNearDups(
        docs, "text", "doc_id", maxDist = 10, shingleSize = 3, numHashes = 128,
        bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out === Seq((1L, 2L, 3)))
  }

  test("editDistanceNearDups: candidate pair past maxDist is excluded by the bounded kernel") {
    import spark.implicits._
    // Same vocabulary (strong LSH candidacy) but many edits apart.
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda STOP HALT END"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val hit = graft.operators.Dedup.editDistanceNearDups(
      docs, "text", "doc_id", maxDist = 2, shingleSize = 2, numHashes = 128, bands = 64)
    assert(hit.count() === 0, "distance 11 pair must not pass maxDist = 2")
    val loose = graft.operators.Dedup.editDistanceNearDups(
      docs, "text", "doc_id", maxDist = 20, shingleSize = 2, numHashes = 128, bands = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(loose === Seq((1L, 2L)), "same pair passes once the bound covers it")
  }

  test("editDistanceNearDups: length-gap pre-filter rejects before text ever joins") {
    import spark.implicits._
    val short = "shared words appear here"
    val long = "shared words appear here " + ("padding " * 20)
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    // |len difference| = 160 > maxDist 5 — must be dropped (edit
    // distance >= length gap, so this loses nothing).
    val out = graft.operators.Dedup.editDistanceNearDups(
      docs, "text", "doc_id", maxDist = 5, shingleSize = 2, numHashes = 128, bands = 64)
    assert(out.count() === 0)
  }

  test("embeddingDecontaminate: exact copies of benchmark rows drop, dissimilar rows survive") {
    import spark.implicits._
    val dim = 16
    def basis(i: Int): Array[Float] = Array.tabulate(dim)(j => if (j == i) 1f else 0f)
    // benchmark = two basis vectors; corpus = one exact copy (id 10),
    // one near-copy (id 11: same direction, scaled), one orthogonal
    // (id 12), one anti-parallel (id 13: cosine -1, never >= threshold)
    val bench = Seq((0L, basis(0)), (1L, basis(1))).toDF("id", "v")
    val near = basis(0).map(_ * 3f)
    val corpus = Seq((10L, basis(0)), (11L, near), (12L, basis(5)), (13L, basis(0).map(-_)))
      .toDF("id", "v")
    val out = graft.operators.Dedup.embeddingDecontaminate(
        corpus, bench, "v", "id", dim, threshold = 0.8,
        nPlanes = 6, nTables = 8, seed = 7L)
      .collect().map(_.getLong(0)).toSet
    assert(!out.contains(10L), "exact benchmark copy must be dropped")
    assert(!out.contains(11L), "scaled copy (cosine 1) must be dropped")
    assert(out.contains(12L), "orthogonal vector survives")
    assert(out.contains(13L), "anti-parallel vector (cosine -1) survives")
  }

  test("embeddingDecontaminate: survivors keep their full row, empty benchmark drops nothing") {
    import spark.implicits._
    val dim = 8
    val corpus = Seq((1L, Array.fill(dim)(0.5f), "keep-me"))
      .toDF("id", "v", "payload")
    val bench = spark.emptyDataset[(Long, Array[Float])].toDF("id", "v")
    val out = graft.operators.Dedup.embeddingDecontaminate(
      corpus, bench, "v", "id", dim, threshold = 0.5).collect()
    assert(out.length === 1 && out(0).getString(2) === "keep-me",
      "schema and payload columns pass through untouched")
  }

  test("kmeansAssign: planted clusters separate; inertia is small inside a tight cluster") {
    import spark.implicits._
    val dim = 8
    // the two ids with the LARGEST portable hash seed the centroids —
    // compute them so each seed can be planted in a different cluster
    def phash(id: Long): Long = ((id % 1000003L) * 2654435761L) % 2147483647L
    val ids = (0L until 20L)
    val Seq(seedA, seedB) = ids.sortBy(id => (-phash(id), id)).take(2).sorted
    def vecA(eps: Float) = Array.tabulate(dim)(j => if (j == 0) 1f + eps else eps)
    def vecB(eps: Float) = Array.tabulate(dim)(j => if (j == 7) 1f + eps else -eps)
    val rows = ids.map { id =>
      val inA = id == seedA || (id != seedB && id % 2 == 0)
      val eps = (id % 5).toFloat * 1e-3f
      (id, if (inA) vecA(eps) else vecB(eps))
    }
    val out = graft.operators.Similarity.kmeansAssign(
        rows.toDF("id", "v"), "v", "id", nCells = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val cells = out.map(r => r._1 -> r._2).toMap
    val clusterA = rows.filter { case (id, _) => id == seedA || (id != seedB && id % 2 == 0) }.map(_._1)
    val clusterB = rows.map(_._1).filterNot(clusterA.contains)
    assert(clusterA.map(cells).toSet.size === 1, s"cluster A maps to one cell: $cells")
    assert(clusterB.map(cells).toSet.size === 1, s"cluster B maps to one cell: $cells")
    assert(cells(clusterA.head) !== cells(clusterB.head), "clusters get different cells")
    // tight clusters (eps ≤ 4e-3) → per-row inertia far below the
    // inter-cluster distance (≈ 2 in unit coords = 2e12 quantized / 1e12)
    assert(out.forall(_._3 < 0.01), s"inertia small inside tight clusters: $out")
  }

  test("kmeansAssign: deterministic across runs; iters=0 assigns to raw seeds") {
    import spark.implicits._
    val rows = (0L until 12L).map(id => (id, Array.tabulate(4)(j => (id * 7 % 5 + j).toFloat)))
    val df = rows.toDF("id", "v")
    val a = graft.operators.Similarity.kmeansAssign(df, "v", "id", 3, iters = 2).collect()
    val b = graft.operators.Similarity.kmeansAssign(df, "v", "id", 3, iters = 2).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // iters=0: every seed row sits exactly on its own centroid → dist 0
    def phash(id: Long): Long = ((id % 1000003L) * 2654435761L) % 2147483647L
    val seeds = (0L until 12L).sortBy(id => (-phash(id), id)).take(3).toSet
    val zero = graft.operators.Similarity.kmeansAssign(df, "v", "id", 3, iters = 0)
      .collect().filter(r => seeds.contains(r.getLong(0)))
    assert(zero.length === 3 && zero.forall(_.getDouble(2) === 0.0),
      "seed rows have zero distance to their own centroid")
  }

  test("kcenterSelect: farthest-first hits every planted cluster before densifying") {
    import spark.implicits._
    // three tight clusters at (10,0..), (0,10,0..), (0,0,10,..) plus
    // jitter — with k=3 greedy k-center MUST pick one exemplar per
    // cluster (a random sample of 3 usually would not)
    val rows = (0L until 30L).map { id =>
      val c = (id % 3).toInt
      val v = Array.tabulate(6)(j => (if (j == c) 10f else 0f) + (id % 5).toFloat * 1e-3f)
      (id, v)
    }
    val out = graft.operators.Similarity.kcenterSelect(
        rows.toDF("id", "v"), "v", "id", k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.length === 3)
    assert(out.map(_._2 % 3).toSet === Set(0L, 1L, 2L),
      s"one pick per planted cluster: ${out.toSeq}")
    assert(out(0)._3.isEmpty, "seed has no previous centers")
    // inter-cluster distance ~200 in unit coords; radii reflect it and
    // never increase
    val radii = out.flatMap(_._3)
    assert(radii.forall(_ > 100.0), s"picks are far from previous centers: ${out.toSeq}")
    assert(radii.sorted.reverse.toSeq === radii.toSeq, "radius sequence non-increasing")
  }

  test("kcenterSelect: deterministic; exact duplicate points tie-break to the smallest id") {
    import spark.implicits._
    // ids 100 and 101 are the SAME far-away point; the farthest-first
    // argmax must pick 100 (smallest id wins the tie)
    val near = (0L until 10L).map(id => (id, Array.tabulate(4)(j => (id % 2).toFloat * 1e-3f)))
    val far = Seq(100L, 101L).map(id => (id, Array.tabulate(4)(j => if (j == 0) 50f else 0f)))
    val df = (near ++ far).toDF("id", "v")
    val a = graft.operators.Similarity.kcenterSelect(df, "v", "id", k = 2).collect()
    val b = graft.operators.Similarity.kcenterSelect(df, "v", "id", k = 2).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq, "deterministic across runs")
    val pickIds = a.map(_.getLong(1)).toSet
    assert(pickIds.contains(100L) && !pickIds.contains(101L),
      s"duplicate far point resolves to the smaller id: ${a.toSeq}")
  }

  test("embeddingDrift: identical snapshots read psi exactly 0 in every cell") {
    import spark.implicits._
    // every vector appears once per snapshot (even id = base twin of
    // the next odd id) → cell histograms are equal → each smoothed
    // term is floor(0·ln1·1e6 + 0.5) = 0, psi exactly 0.0
    val rows = (0L until 40L).map { id =>
      val v = Array.tabulate(6)(j => ((id / 2) * 3 % 7 + j).toFloat)
      (id, id % 2 == 0, v)
    }
    val out = graft.operators.Similarity.embeddingDrift(
        rows.toDF("id", "is_base", "v"), "v", "id", "is_base", nCells = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.length === 4, "one row per cell, empty cells included")
    assert(out.forall(r => r._2 === r._3), s"equal histograms: ${out.toSeq}")
    assert(out.forall(r => r._4 === 0.0 && r._5 === 0.0), s"psi 0: ${out.toSeq}")
  }

  test("embeddingDrift: a planted snapshot shift yields a large psi; counts conserve") {
    import spark.implicits._
    // base snapshot lives near +e0, new snapshot near -e0 (far apart
    // vs the seed spread) → disjoint cell histograms → psi >> 0
    val rows = (0L until 60L).map { id =>
      val base = id < 30
      val v = Array.tabulate(6)(j =>
        (if (j == 0) { if (base) 10f else -10f } else (id % 3).toFloat * 1e-2f))
      (id, base, v)
    }
    val out = graft.operators.Similarity.embeddingDrift(
        rows.toDF("id", "is_base", "v"), "v", "id", "is_base", nCells = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.map(_._2).sum === 30L && out.map(_._3).sum === 30L,
      s"histograms conserve snapshot sizes: ${out.toSeq}")
    // no cell holds rows from both snapshots
    assert(out.forall(r => r._2 === 0L || r._3 === 0L), s"disjoint: ${out.toSeq}")
    assert(out.forall(_._5 > 1.0), s"total psi large on a full shift: ${out.toSeq}")
    // the total is the quantized sum of the per-cell terms
    val sumTerms = math.floor(out.map(_._4).sum * 1e6 + 0.5) / 1e6
    assert(math.abs(out.head._5 - sumTerms) < 1e-9, s"psi = Σ terms: ${out.toSeq}")
  }

  test("covarianceMatrix: hand-computed 2x2 sample covariance, upper triangle only") {
    import spark.implicits._
    // vectors (1,2), (3,4), (5,12): means (3,6);
    // var x = 4, var y = 28, cov(x,y) = 10 (sample, n-1)
    val df = Seq(
      (1L, Array(1f, 2f)), (2L, Array(3f, 4f)), (3L, Array(5f, 12f))
    ).toDF("id", "v")
    val out = graft.operators.Similarity.covarianceMatrix(df, "v", dim = 2)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(out.keySet === Set((0, 0), (0, 1), (1, 1)), "i <= j rows only")
    assert(out((0, 0)) === 4.0)
    assert(out((1, 1)) === 28.0)
    assert(out((0, 1)) === 10.0)
  }

  test("covarianceMatrix: order-immune — repartitioned input gives identical bits") {
    import spark.implicits._
    val rows = (0L until 200L).map(id =>
      (id, Array.tabulate(4)(j => math.sin(id * 0.37 + j).toFloat)))
    val df = rows.toDF("id", "v")
    val a = graft.operators.Similarity.covarianceMatrix(df, "v", 4)
      .orderBy("dim_i", "dim_j").collect().map(_.getDouble(2)).toSeq
    val b = graft.operators.Similarity.covarianceMatrix(df.repartition(13), "v", 4)
      .orderBy("dim_i", "dim_j").collect().map(_.getDouble(2)).toSeq
    assert(a === b, "decimal integer moments make the result partitioning-independent")
  }

  test("covarianceMatrix: empty and single-row input yield an EMPTY frame, never NaN rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "v")
    assert(graft.operators.Similarity.covarianceMatrix(empty, "v", 3).count() === 0L,
      "n = 0: the zero moment buffer must not surface as 0/0 NaN rows")
    val one = Seq((1L, Array(1f, 2f, 3f))).toDF("id", "v")
    assert(graft.operators.Similarity.covarianceMatrix(one, "v", 3).count() === 0L,
      "n = 1: sample covariance (n-1 denominator) undefined → empty")
  }

  test("exact all-pairs oracles refuse corpora beyond the maxExactRows fence") {
    import spark.implicits._
    val docs = planted
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5, maxExactRows = 2L)
    }
    assert(e.getMessage.contains("recall oracle") && e.getMessage.contains("minhashNearDups"),
      s"fence names the at-scale alternative: ${e.getMessage}")
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.embedCosinePairsExact(emb, "embedding", "vec_id", 0.4, maxExactRows = 3L)
    }
    assert(e2.getMessage.contains("embeddingNearDups"))
    // under the fence the helper IS the inline exact join it replaced
    import graft.functions.VectorFunctions.cosine
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val inline = v.select(col("vec_id").as("id_a"), col("v").as("va"))
      .join(v.select(col("vec_id").as("id_b"), col("v").as("vb")), col("id_a") < col("id_b"))
      .filter(cosine(col("va"), col("vb")) >= 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val helper = Dedup.embedCosinePairsExact(emb, "embedding", "vec_id", 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(helper === inline)
  }

  test("MomentMatrix aggregate: exact 128-bit cells — max-magnitude products, signs, carries, merge") {
    import spark.implicits._
    import graft.plans.MomentMatrix.momentMatrix
    // Products near ±2^62: two rows of (±a, ∓a) with a = 3e9 —
    // a² = 9e18 is within a long, but the SUM 2·a² = 1.8e19 > 2^63
    // overflows any long accumulator; the 128-bit cells must carry.
    val a = 3000000000L
    val big = Seq(Array(a, -a), Array(a, -a), Array(-a, a))
      .toDF("v").repartition(3) // force cross-partition merge
    val out = big.agg(momentMatrix(col("v"), 2).as("m"))
      .select(explode(col("m")).as("p")).select("p.i", "p.j", "p.s")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDecimal(2).toBigInteger)).toMap
    val aa = java.math.BigInteger.valueOf(a).pow(2)
    assert(out((0, 0)) === aa.multiply(java.math.BigInteger.valueOf(3)), "Σ a² = 3a² > 2^63")
    assert(out((0, 1)) === aa.multiply(java.math.BigInteger.valueOf(-3)), "negative cells exact")
    assert(out((1, 1)) === aa.multiply(java.math.BigInteger.valueOf(3)))
    // equivalence with the composable formulation on mixed-sign data
    val rows = (0L until 100L).map(id => Array.tabulate(3)(j => id * 7 - 300 + j * 13))
    val df = rows.toDF("v")
    val fast = df.agg(momentMatrix(col("v"), 3).as("m"))
      .select(explode(col("m")).as("p")).select("p.i", "p.j", "p.s")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDecimal(2).longValueExact())).toMap
    val slow = (for { i <- 0 until 3; j <- i until 3 } yield
      ((i, j), rows.map(v => v(i) * v(j)).sum)).toMap
    assert(fast === slow, "aggregate ≡ explode-and-sum formulation")
    // length-mismatched rows are a data bug, not a skippable value
    intercept[Exception] {
      Seq(Array(1L, 2L), Array(1L)).toDF("v")
        .agg(momentMatrix(col("v"), 2)).collect()
    }
  }

  // ---- silhouette -------------------------------------------------------

  private def seedIds(ids: Seq[Long], n: Int): Seq[Long] = {
    def phash(id: Long): Long = ((id % 1000003L) * 2654435761L) % 2147483647L
    ids.sortBy(id => (-phash(id), id)).take(n).sorted // cell index = id order
  }

  test("silhouette: points exactly ON their centroid score 1, boundary point scores 0") {
    import spark.implicits._
    val ids = 0L until 10L
    val Seq(sa, sb) = seedIds(ids, 2)
    // every non-seed point sits EXACTLY on one of the two seed
    // positions (±2 on axis 0) → a = 0, b = 16e12 > 0 → s = 1.0
    // exactly; one extra point at the midpoint (0,0) is equidistant
    // (b = a) → s = 0, assigned to cell 0 by the first-minimum rule.
    def vec(id: Long): Array[Float] =
      if (id == 100L) Array(0f, 0f)
      else if (id == sa || (id != sb && id % 2 == 0)) Array(2f, 0f)
      else Array(-2f, 0f)
    val rows = (ids :+ 100L).map(id => (id, vec(id)))
    val out = graft.operators.Similarity.silhouette(
        rows.toDF("id", "v"), "v", "id", nCells = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.map(_._2).sum === rows.length.toLong, s"all points assigned: ${out.toSeq}")
    // cell 0 holds the midpoint: its mean is (n0-1)·1.0 + 0.0 over n0;
    // cell 1 is pure → mean exactly 1.0
    val (c0n, c0m) = (out(0)._2, out(0)._3.get)
    assert(out(1)._3.contains(1.0), s"pure cell mean exactly 1: ${out.toSeq}")
    assert(c0m === math.floor((c0n - 1).toDouble / c0n * 1e6 + 0.5) / 1e6,
      s"midpoint dilutes cell 0 exactly: ${out.toSeq}")
  }

  test("silhouette: all-identical points → degenerate b = 0 scores 0, empty cell is null") {
    import spark.implicits._
    // every vector identical → both centroids coincide → b = 0 → the
    // 0/0 guard yields s = 0 (not NaN); the first-minimum rule sends
    // everything to cell 0, cell 1 is empty (n 0, null mean).
    val rows = (0L until 5L).map(id => (id, Array(1.5f, -0.5f)))
    val out = graft.operators.Similarity.silhouette(
        rows.toDF("id", "v"), "v", "id", nCells = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq === Seq((0, 5L, Some(0.0)), (1, 0L, None)))
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.silhouette(rows.toDF("id", "v"), "v", "id", nCells = 1)
    }
  }

  test("silhouette: deterministic across runs; scores stay within [0, 1]") {
    import spark.implicits._
    val rows = (0L until 30L).map(id =>
      (id, Array.tabulate(4)(j => ((id * 13 + j * 7) % 11).toFloat - 5f)))
    val df = rows.toDF("id", "v")
    val a = graft.operators.Similarity.silhouette(df, "v", "id", nCells = 3).collect()
    val b = graft.operators.Similarity.silhouette(df, "v", "id", nCells = 3).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq, "deterministic")
    val means = a.filterNot(_.isNullAt(2)).map(_.getDouble(2))
    assert(means.forall(m => m >= 0.0 && m <= 1.0), s"s ∈ [0,1]: ${means.toSeq}")
    assert(a.map(_.getLong(1)).sum === 30L, "every point assigned exactly once")
  }

  // ---- embeddingDiversity -------------------------------------------------

  private def diversityOn(vs: Seq[Array[Float]], dim: Int) = {
    import spark.implicits._
    val r = graft.operators.Similarity.embeddingDiversity(
      vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v"),
      "v", dim = dim).collect().head
    (r.getLong(0), r.getDouble(1), r.getDouble(2),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))
  }

  test("embeddingDiversity: two points — the identity IS the squared distance") {
    // x = (3, 0), y = (0, 4): ‖x−y‖² = 25, and both ordered pairs share
    // it, so mean_pairwise = 25 exactly. mean ‖·‖² = (9+16)/2 = 12.5;
    // centroid (1.5, 2) → ‖c‖² = 6.25; identity: 2·(12.5 − 6.25)·(n/(n−1))
    // with n = 2 → 25. Exact integers end-to-end at 1e-6 quantization.
    val out = diversityOn(Seq(Array(3f, 0f), Array(0f, 4f)), dim = 2)
    assert(out === ((2L, 12.5, 6.25, Some(25.0))))
  }

  test("embeddingDiversity: identical vectors → zero diversity; single row → null") {
    val out = diversityOn(Seq.fill(7)(Array(1.25f, -2f, 0.5f)), dim = 3)
    assert(out._1 === 7L)
    assert(out._4 === Some(0.0), s"copies have zero pairwise distance: $out")
    assert(out._2 === out._3, "mean_sq_norm == centroid_sq_norm for copies")
    val one = diversityOn(Seq(Array(1f, 2f)), dim = 2)
    assert(one === ((1L, 5.0, 5.0, None)))
  }

  test("embeddingDiversity: matches the explicit all-pairs mean on a random corpus") {
    // serial brute force over every ordered pair on 1e-6-quantized
    // coordinates — the O(n²) semantic the one-pass identity replaces.
    val vs = (0 until 40).map(i =>
      Array.tabulate(5)(j => (((i * 31 + j * 17) % 23) - 11) / 7.0f))
    val q = vs.map(_.map(x => math.floor(x * 1e6 + 0.5).toLong))
    val pairSum = (for (a <- q; b <- q if a ne b) yield
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum).sum // exact long
    val expected = math.floor(
      pairSum.toDouble / (40.0 * 39.0) / 1e12 * 1e6 + 0.5) / 1e6
    val out = diversityOn(vs, dim = 5)
    assert(out._1 === 40L)
    assert(math.abs(out._4.get - expected) < 1e-9,
      s"identity == brute force: ${out._4} vs $expected")
    // decomposition: mean_pairwise = 2 (mean_sq_norm − centroid_sq_norm) · n/(n−1)
    assert(math.abs(out._4.get - 2.0 * (out._2 - out._3) * 40.0 / 39.0) < 2e-6,
      s"$out")
  }

  // ---- pqDistortionProfile -------------------------------------------------

  test("pqDistortionProfile: corpus == seed rows quantizes losslessly at every m") {
    import spark.implicits._
    // 16 rows with ksub=16: every corpus row IS a codebook row, so the
    // per-subspace min distance is 0 for every subspace split.
    val rows = (0L until 16L).map(i =>
      (i, Array(i.toFloat, (i * 2).toFloat, (i * 3).toFloat, (16 - i).toFloat)))
    val out = graft.operators.Similarity.pqDistortionProfile(
        rows.toDF("id", "v"), "v", "id", dim = 4, ms = Seq(1, 2, 4), ksub = 16)
      .collect().map(r => r.getInt(0) -> (r.getDouble(3), r.getInt(2))).toMap
    assert(out.keySet == Set(1, 2, 4))
    assert(out.values.forall(_._1 == 0.0), s"lossless at every m: $out")
    assert(out(4)._2 == 16, "bits/vec = m·log2(ksub)")
  }

  test("pqDistortionProfile: distortion is monotone non-increasing in subspace count") {
    import spark.implicits._
    // 17th row forces a quantization miss; splitting subspaces can
    // only refine the per-subspace argmin: d(4) <= d(2) <= d(1).
    val rows = (0L until 16L).map(i =>
      (i, Array(i.toFloat, (i * 2).toFloat, (i * 3).toFloat, (16 - i).toFloat))) :+
      (99L, Array(7.5f, 31f, 2f, 40f))
    val out = graft.operators.Similarity.pqDistortionProfile(
        rows.toDF("id", "v"), "v", "id", dim = 4, ms = Seq(1, 2, 4), ksub = 16)
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(out(1) > 0.0, s"the off-codebook row costs distortion: $out")
    assert(out(4) <= out(2) && out(2) <= out(1), s"monotone in m: $out")
  }

  // ---- jaccardThresholdProfile ----------------------------------------------

  test("jaccardThresholdProfile: exact dups land in the top bin; shares sum to 1") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, base), (2L, base), (3L, base),
      (4L, base.replace("lazy", "sleepy").replace("quick", "slow"))).toDF("doc_id", "text")
    val out = Dedup.jaccardThresholdProfile(docs, "text", "doc_id",
        shingleSize = 2, numHashes = 64, bands = 32)
      .collect().map(r => r.getInt(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
    assert(out(9)._1 == 3L, s"the 3 identical-doc pairs bin at [0.9, 1.0]: $out")
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-6, s"shares sum to 1: $out")
    assert(out.keys.forall(b => b >= 0 && b <= 9), s"bins clamp to [0, 9]: $out")
  }

  // ---- ivfProbeProfile -----------------------------------------------------

  test("ivfProbeProfile: probing every cell scans all non-self rows at recall 1.0") {
    import spark.implicits._
    val rows = (0L until 40L).map(i => (i, Array.tabulate(4)(d =>
      math.sin(i * 7.0 + d).toFloat)))
    val out = graft.operators.Similarity.ivfProbeProfile(
        rows.toDF("id", "v"), "v", "id", dim = 4,
        probes = Seq(4), nCells = 4, k = 3, sampleQ = 5)
      .collect().head
    assert(out.getLong(1) == 5L * 39L, s"every query touches all 39 other rows: $out")
    assert(out.getDouble(4) == 1.0, s"full probe is exact: $out")
    assert(out.getLong(3) == 15L, s"5 queries x k=3 truth rows: $out")
  }

  test("ivfProbeProfile: scan work and recall are monotone non-decreasing in n_probe") {
    import spark.implicits._
    val rows = (0L until 60L).map(i => (i, Array.tabulate(4)(d =>
      (math.cos(i * 3.0 + 2 * d) + math.sin(i * 11.0)).toFloat)))
    val out = graft.operators.Similarity.ivfProbeProfile(
        rows.toDF("id", "v"), "v", "id", dim = 4,
        probes = Seq(1, 2, 4), nCells = 4, k = 5, sampleQ = 4)
      .collect().sortBy(_.getInt(0))
    val scans = out.map(_.getLong(1)).toSeq
    val recalls = out.map(_.getDouble(4)).toSeq
    assert(scans == scans.sorted, s"scan work monotone: $scans")
    assert(recalls == recalls.sorted, s"recall monotone: $recalls")
    assert(out.last.getDouble(4) == 1.0, "probing all 4 cells is exact")
  }

  // ---- oodScore -----------------------------------------------------------

  test("oodScore: hand-computed diagonal Mahalanobis; dead dims contribute 0") {
    import spark.implicits._
    // dim 0 values (1, 3, 5): mean 3, sample var 4 → z² = (v−3)²/4;
    // dim 1 constant → var 0 → contributes 0 for every row.
    val rows = Seq((1L, Array(1f, 7f)), (2L, Array(3f, 7f)), (3L, Array(5f, 7f)))
    val out = graft.operators.Similarity.oodScore(rows.toDF("id", "v"), "v", "id", dim = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) === 1.0 && out(2L) === 0.0 && out(3L) === 1.0,
      s"(v−μ)²/s² per row: $out")
  }

  test("oodScore: a planted off-distribution vector dominates the corpus") {
    import spark.implicits._
    // 20 vectors jittered around (1, 2, 3, 4) plus one far point: the
    // outlier's variance-normalized distance must dwarf every inlier's.
    val inliers = (0 until 20).map { i =>
      (i.toLong, Array(1f + 0.01f * (i % 5), 2f - 0.01f * (i % 3),
        3f + 0.01f * (i % 7), 4f - 0.01f * (i % 2)))
    }
    val df = (inliers :+ (99L, Array(9f, -6f, 11f, -3f))).toDF("id", "v")
    val out = graft.operators.Similarity.oodScore(df, "v", "id", dim = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxInlier = (out - 99L).values.max
    assert(out(99L) > 10 * maxInlier,
      s"outlier ${out(99L)} should dwarf max inlier $maxInlier")
  }

  // ---- dimsHealth ---------------------------------------------------------

  test("dimsHealth: hand-computed mean/var/min/max; a constant dimension reads dead") {
    import spark.implicits._
    val rows = Seq((1L, Array(1f, 5f)), (2L, Array(3f, 5f)), (3L, Array(5f, 5f)))
    val out = graft.operators.Similarity.dimsHealth(
        rows.toDF("id", "v"), "v", dim = 2)
      .collect().map(r => (r.getInt(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
    // dim 0: mean 3, sample var ((−2)² + 0 + 2²)/2 = 4, span [1, 5]
    assert(out(0) === ((0, 3.0, Some(4.0), 1.0, 5.0, false)))
    // dim 1: constant 5 → var 0, min == max → dead
    assert(out(1) === ((1, 5.0, Some(0.0), 5.0, 5.0, true)))
  }

  test("dimsHealth: large coordinate magnitudes don't wrap the squared sum") {
    import spark.implicits._
    // |q| = 4e9 after 1e-6 quantization → q² = 1.6e19 > 2⁶³ ≈ 9.2e18:
    // a LONG square wraps silently; the decimal-before-multiply path
    // must read sample variance ((4e3)² + (−4e3)²)/1 = 3.2e7 exactly.
    val rows = Seq((1L, Array(4000f, 0f)), (2L, Array(-4000f, 0f)))
    val out = graft.operators.Similarity.dimsHealth(
        rows.toDF("id", "v"), "v", dim = 2).collect()
    assert(out(0).getDouble(1) === 0.0)
    assert(out(0).getDouble(2) === 3.2e7,
      s"wrapped square would corrupt variance: ${out(0)}")
    assert(out(0).getDouble(3) === -4000.0 && out(0).getDouble(4) === 4000.0)
  }

  test("dimsHealth: single-row corpus — null variance, trivially dead dims") {
    import spark.implicits._
    val out = graft.operators.Similarity.dimsHealth(
        Seq((1L, Array(0.25f, -1f))).toDF("id", "v"), "v", dim = 2)
      .collect()
    assert(out.forall(_.isNullAt(2)), "n < 2 → no sample variance")
    assert(out.forall(_.getBoolean(5)), "one point: every dim constant")
    assert(out(0).getDouble(1) === 0.25 && out(1).getDouble(1) === -1.0)
  }

  // ---- minhashBandProfile -------------------------------------------------

  test("minhashBandProfile: identical docs share every band bucket; cap excludes them") {
    import spark.implicits._
    // 5 identical texts → identical signatures → each band holds ONE
    // bucket of 5: pairs = 10 per band; cap 4 → over-cap, pairs 0.
    val rows = (1L to 5L).map(i => (i, "the quick brown fox jumps over the dog"))
    val out = graft.operators.Dedup.minhashBandProfile(
        rows.toDF("id", "text"), "text", "id",
        shingleSize = 3, numHashes = 8, bands = 4).collect()
    assert(out.length === 4)
    out.foreach { r =>
      assert(r.getLong(1) === 1L && r.getLong(2) === 5L && r.getLong(3) === 5L, s"$r")
      assert(r.getLong(5) === 0L && r.getLong(6) === 10L, s"$r")
    }
    val capped = graft.operators.Dedup.minhashBandProfile(
        rows.toDF("id", "text"), "text", "id",
        shingleSize = 3, numHashes = 8, bands = 4, maxBucketSize = 4).collect()
    capped.foreach(r => assert(r.getLong(5) === 1L && r.getLong(6) === 0L, s"$r"))
  }

  test("minhashBandProfile: per-band doc conservation on a mixed corpus") {
    import spark.implicits._
    val rows = (0L until 40L).map(i => (i, s"doc $i has words w${i % 7} w${i % 5} w${i % 3} tail"))
    val out = graft.operators.Dedup.minhashBandProfile(
        rows.toDF("id", "text"), "text", "id",
        shingleSize = 2, numHashes = 16, bands = 8).collect()
    assert(out.length === 8)
    out.foreach(r => assert(r.getLong(2) === 40L, s"every doc lands once per band: $r"))
    out.foreach(r => assert(r.getLong(6) >= 0L && r.getLong(3) >= 1L))
  }

  // ---- lshBucketProfile ---------------------------------------------------

  test("lshBucketProfile: identical vectors collapse to one bucket; cap excludes them") {
    import spark.implicits._
    // 6 identical vectors → exactly ONE bucket per table with m = 6:
    // pairs = 6·5/2 = 15; with cap 5 the bucket is over-cap instead.
    val rows = (1L to 6L).map(i => (i, Array.fill(4)(1f)))
    val out = graft.operators.Similarity.lshBucketProfile(
        rows.toDF("id", "v"), "v", "id", dim = 4, nPlanes = 4, nTables = 2)
      .collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getLong(1) === 1L && r.getLong(2) === 6L && r.getLong(3) === 6L,
        s"one bucket of 6: $r")
      assert(r.getDouble(4) === 6.0 && r.getLong(5) === 0L && r.getLong(6) === 15L, s"$r")
    }
    val capped = graft.operators.Similarity.lshBucketProfile(
        rows.toDF("id", "v"), "v", "id", dim = 4, nPlanes = 4, nTables = 2,
        maxBucketSize = 5)
      .collect()
    capped.foreach { r =>
      assert(r.getLong(5) === 1L && r.getLong(6) === 0L,
        s"over-cap bucket counted, its pairs excluded: $r")
    }
  }

  test("lshBucketProfile: occupancy conserves the corpus; pairs match the direct sum") {
    import spark.implicits._
    val rows = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(j => (((i * 11 + j * 5) % 17) - 8).toFloat)))
    val df = rows.toDF("id", "v")
    val out = graft.operators.Similarity.lshBucketProfile(
        df, "v", "id", dim = 8, nPlanes = 3, nTables = 4).collect()
    assert(out.length === 4)
    out.foreach(r => assert(r.getLong(2) === 60L, s"every vector lands once per table: $r"))
    // cross-check candidate_pairs against the knnGraph bucket frame
    // semantics: recompute m per (table, key) via the same expression
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val planes = (0 until 4).map(t =>
      graft.operators.Dedup.randomPlanes(3, 8, graft.operators.Dedup.DefaultSeed + t))
    val m = df.withColumn("b", column(graft.plans.HyperplaneBuckets(
        expression(org.apache.spark.sql.functions.col("v").cast("array<double>")), planes)))
      .select(org.apache.spark.sql.functions.posexplode(
        org.apache.spark.sql.functions.col("b")).as(Seq("t", "k")))
      .groupBy("t", "k").count().collect()
      .groupBy(_.getInt(0))
      .view.mapValues(_.map(r => { val c = r.getLong(2); c * (c - 1) / 2 }).sum).toMap
    out.foreach(r => assert(r.getLong(6) === m(r.getInt(0)), s"pairs of table $r"))
  }

  // ---- lshRecallProfile -----------------------------------------------------

  test("lshRecallProfile: planted identical clusters recall 1.0 at every depth; work monotone") {
    import spark.implicits._
    // 4 clusters x 4 IDENTICAL vectors (distinct directions across
    // clusters): each vector's exact top-3 is its 3 clustermates
    // (cosine 1.0); identical vectors share every bucket at every
    // depth, so the candidate set always contains the truth -> the
    // sampled recall must be exactly 1.0 at EVERY depth.
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f))
    val rows = for (c <- 0 until 4; i <- 0 until 4)
      yield ((c * 4 + i).toLong, dirs(c))
    val out = graft.operators.Similarity.lshRecallProfile(
        rows.toDF("vec_id", "v"), "v", "vec_id", dim = 8,
        depths = Seq(2, 4, 6), k = 3, nTables = 2, sampleQ = 5)
      .collect()
    assert(out.length === 3)
    out.foreach { r =>
      assert(r.getLong(3) === 15L, s"5 sampled queries x k=3 truth rows: $r")
      assert(r.getLong(2) === 15L && r.getDouble(4) === 1.0,
        s"clustermates share every bucket -> recall 1.0: $r")
    }
    // planes are seed-nested across depths (same RNG prefix), so deeper
    // keys REFINE shallower buckets: candidate work never increases
    val work = out.sortBy(_.getInt(0)).map(_.getLong(1))
    assert(work.zip(work.tail).forall { case (a, b) => a >= b },
      s"candidate_pairs must be monotone non-increasing in depth: ${work.toSeq}")
  }

  test("lshRecallProfile: deeper keys only shrink the candidate set (hits monotone) on real data") {
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
    val out = graft.operators.Similarity.lshRecallProfile(
        emb, "embedding", "vec_id", dim = 64, depths = Seq(2, 8, 12),
        k = 10, nTables = 4, sampleQ = 6)
      .collect().sortBy(_.getInt(0))
    assert(out.length === 3)
    out.foreach { r =>
      val recall = r.getDouble(4)
      assert(recall >= 0.0 && recall <= 1.0, s"recall in [0,1]: $r")
      assert(r.getLong(2) <= r.getLong(3), s"hits <= truth: $r")
    }
    val hits = out.map(_.getLong(2))
    val work = out.map(_.getLong(1))
    assert(hits.zip(hits.tail).forall { case (a, b) => a >= b },
      s"nested planes: candidates at depth d are a subset of depth d' < d, " +
        s"so hits cannot grow with depth: ${hits.toSeq}")
    assert(work.zip(work.tail).forall { case (a, b) => a >= b },
      s"work monotone: ${work.toSeq}")
    assert(work.head > work.last, "depth must actually reduce candidate work on real data")
  }

  // ---- derivedBands -----------------------------------------------------------

  test("derivedBands: S-curve midpoint picks the classic bandings at numHashes=128") {
    import graft.operators.Dedup.derivedBands
    // midpoints: b=4 -> 0.958, 8 -> 0.878, 16 -> 0.707, 32 -> 0.420, 64 -> 0.125
    assert(derivedBands(128, 0.9) === 8)
    assert(derivedBands(128, 0.7) === 16)
    assert(derivedBands(128, 0.4) === 32)
    assert(derivedBands(128, 0.15) === 64)
    // b=2 midpoint (1/2)^(1/64) = 0.9892 beats b=1's exact 1.0 for 0.99
    assert(derivedBands(128, 0.99) === 2, "near-exact threshold wants very long bands")
    assert(derivedBands(128, 0.01) === 128, "catch-everything threshold wants 1-row bands")
    intercept[IllegalArgumentException](derivedBands(128, 0.0))
    intercept[IllegalArgumentException](derivedBands(128, 1.0))
    intercept[IllegalArgumentException](derivedBands(0, 0.5))
  }

  // ---- minhashRecallProfile --------------------------------------------------

  test("minhashRecallProfile: planted identical doc groups recall 1.0; work/recall monotone in bands") {
    import spark.implicits._
    // 3 groups x 4 IDENTICAL docs (disjoint vocabularies) + 8 distinct
    // fillers: truth for a sampled group member is its 3 groupmates
    // (jaccard 1.0); identical docs have identical signatures, so they
    // share every band bucket at every bands value -> recall must be
    // exactly 1.0 at every row. Fillers share no shingles (jaccard 0).
    val groups = for (g <- 0 until 3; i <- 0 until 4)
      yield ((g * 4 + i).toLong,
        (0 until 12).map(w => s"g${g}w$w").mkString(" "))
    val fillers = (0 until 8).map(i =>
      (100L + i, (0 until 12).map(w => s"f${i}x$w").mkString(" ")))
    val out = graft.operators.Dedup.minhashRecallProfile(
        (groups ++ fillers).toDF("doc_id", "text"), "text", "doc_id",
        bandsList = Seq(4, 8, 16), shingleSize = 3, numHashes = 16,
        threshold = 0.5, sampleQ = 6)
      .collect().sortBy(_.getInt(0))
    assert(out.length === 3)
    val truthN = out.head.getLong(3)
    out.foreach { r =>
      assert(r.getLong(3) === truthN, "same truth on every row")
      assert(r.getLong(2) === truthN && r.getDouble(4) === 1.0,
        s"identical docs share every band bucket -> recall 1.0: $r")
    }
    // no bucket near the cap here, so finer banding (more bands) only
    // ADDS candidate opportunities: work monotone non-decreasing
    val work = out.map(_.getLong(1))
    assert(work.zip(work.tail).forall { case (a, b) => a <= b },
      s"candidate work must not shrink with more bands: ${work.toSeq}")
  }

  test("minhashRecallProfile: real corpus — recall bounded, hits <= truth, shared truth") {
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
    val out = graft.operators.Dedup.minhashRecallProfile(
        docs, "text", "doc_id", bandsList = Seq(8, 32),
        shingleSize = 3, numHashes = 128, threshold = 0.3,
        sampleQ = 6)
      .collect().sortBy(_.getInt(0))
    assert(out.length === 2)
    assert(out.map(_.getLong(3)).distinct.length === 1, "one shared truth set")
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), s"hits <= truth: $r")
      val rec = r.getDouble(4)
      assert(rec >= 0.0 && rec <= 1.0, s"recall in [0,1]: $r")
    }
    intercept[IllegalArgumentException](
      graft.operators.Dedup.minhashRecallProfile(docs, "text", "doc_id",
        bandsList = Seq(7), numHashes = 128)) // 7 does not divide 128
  }

  // ---- corpus-aware key depth ----------------------------------------------

  test("derivedPlanes: exact ceil-log2 depths for planted corpus sizes") {
    import graft.operators.Dedup.derivedPlanes
    // the r11 scale-curve points: the x30 corpus (60k) must derive the
    // measured 16x-faster depth 12; the x10 corpus (20k) lands at 11
    assert(derivedPlanes(60000L, minPlanes = 8) === 12)
    assert(derivedPlanes(20000L, minPlanes = 8) === 11)
    // oracle-scale corpora stay under the floor → auto = the committed 8
    assert(derivedPlanes(500L, minPlanes = 8) === 8)
    assert(derivedPlanes(500L, minPlanes = 12) === 12, "near-dup floor holds")
    // exact power of two: ceil(log2(1024)) is 10, not 11
    assert(derivedPlanes(16L * 1024, minPlanes = 1) === 10)
    assert(derivedPlanes(16L * 1024 + 1, minPlanes = 1) === 11)
    // degenerate and extreme corpora
    assert(derivedPlanes(0L, minPlanes = 8) === 8)
    assert(derivedPlanes(-5L, minPlanes = 8) === 8)
    assert(derivedPlanes(1000000000L, minPlanes = 8) === 26, "1e9 vectors -> 26 planes")
    assert(derivedPlanes(Long.MaxValue / 2, minPlanes = 8) === 30, "capped at MaxPlanes")
    intercept[IllegalArgumentException](derivedPlanes(10L, minPlanes = 0))
    intercept[IllegalArgumentException](derivedPlanes(10L, minPlanes = 8, targetOccupancy = 0))
  }

  test("auto key depth: default-parameter knnGraph equals the pinned depth it derives") {
    // at oracle scale (500 vectors) auto derives exactly the committed
    // depth 8, so a default-parameter build is bit-identical to the
    // pinned oracle query — the continuity contract that keeps the
    // 172-query gate meaningful while the DEFAULT became scale-safe
    val emb = spark.read.parquet(sf("sf0.001/embeddings.parquet"))
    val auto = graft.operators.Similarity.knnGraph(
        emb, "embedding", "vec_id", dim = 64, k = 10)
      .orderBy("src_id", "rank").collect()
    val pinned = graft.operators.Similarity.knnGraph(
        emb, "embedding", "vec_id", dim = 64, k = 10, nPlanes = 8, nTables = 8)
      .orderBy("src_id", "rank").collect()
    assert(auto.nonEmpty && (auto sameElements pinned),
      "auto depth at 500 vectors must resolve to the committed 8")
    intercept[IllegalArgumentException](
      graft.operators.Similarity.knnGraph(emb, "embedding", "vec_id",
        dim = 64, k = 10, nPlanes = 31))
  }

  // ---- recallEval ---------------------------------------------------------

  test("recallEval: probing every cell makes IVF exact — recall ≡ 1.0") {
    import spark.implicits._
    val rows = (0L until 24L).map(i =>
      (i, Array.tabulate(4)(j => (((i * 7 + j * 3) % 13) - 6).toFloat)))
    val df = rows.toDF("id", "v")
    val out = graft.operators.Similarity.recallEval(
        df.filter(col("id") >= 4), df.filter(col("id") < 4), "v", "id",
        k = 5, nCells = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.length === 4, "one row per query")
    assert(out.forall { case (_, k, n, rec) => k == 5 && n == 5L && rec == 1.0 },
      s"full probe = exact: ${out.toSeq}")
  }

  test("recallEval: partial probe recall stays in [0,1], deterministic, overlap ≤ k") {
    import spark.implicits._
    val rows = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(j => (((i * 11 + j * 5) % 17) - 8).toFloat)))
    val df = rows.toDF("id", "v")
    def run() = graft.operators.Similarity.recallEval(
        df.filter(col("id") >= 5), df.filter(col("id") < 5), "v", "id",
        k = 5, nCells = 8, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val a = run()
    assert(a.toSeq === run().toSeq, "deterministic")
    assert(a.forall { case (_, n, rec) =>
      n >= 0L && n <= 5L && rec >= 0.0 && rec <= 1.0 }, s"${a.toSeq}")
    assert(a.forall { case (_, n, rec) =>
      rec === math.floor(n / 5.0 * 1e6 + 0.5) / 1e6 }, "recall = overlap/k")
  }
}
