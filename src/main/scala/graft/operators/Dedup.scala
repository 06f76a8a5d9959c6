package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.BandKeys
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

import scala.util.Random

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Five families, shuffle-conscious, with no driver-side loops and no
  * UDFs in the hot path:
  *
  *  - [[exact]]           — md5-fingerprint group-by (one shuffle).
  *  - [[minhashNearDups]] — MinHash + LSH banding: shingle → signature
  *                          (native expressions, one Catalyst
  *                          projection) → band buckets → exact-Jaccard
  *                          verification of candidates, on the
  *                          co-partitioned RDD kernel [[MinhashKernel]]
  *                          (also behind [[containmentNearDups]] and
  *                          [[incrementalMinhash]]).
  *  - [[simhashNearDups]] — 64-bit SimHash + chunk banding + Hamming
  *                          distance verification (`bit_count(xor)`).
  *  - [[ngramJaccardPairs]] — exact pairwise n-gram Jaccard via a
  *                          shingle-explode equi-join (the exact
  *                          counterpart LSH approximates).
  *  - [[embeddingNearDups]] — cosine near-dup over embeddings via
  *                          random-hyperplane LSH buckets + exact
  *                          cosine verification.
  *
  * Scale design: every candidate-generation step groups or joins on a
  * bucket key (hash-partitionable at any cluster size); oversized
  * buckets are capped via `maxBucketSize` under the one capped-bucket
  * contract ([[cappedBuckets]], [[bucketPairs]]), which the relational
  * LSH and posting-list operators here, in [[Similarity]] and in
  * [[TextAnalysis]] all share.
  */
object Dedup {

  /** MinHash modulus: 2^31-1 (Mersenne prime). Coefficients and
    * reduced shingle hashes are < 2^31, so a*h+b < 2^62 — no long
    * overflow under ANSI mode, on any engine.
    */
  private val Prime = 2147483647L

  /** SCAN-PARALLELISM FLOOR for the signature-heavy operators: when
    * the input's scan yields fewer partitions than the session's
    * parallelism, round-robin repartition it so the scan-side
    * expression work (shingling + the 128-hash md5 MinHash signature,
    * the dominant CPU of every LSH chain) spreads across all cores.
    * Measured r14: the single-row-group testdata parquet cannot be
    * byte-range split, so dedup_minhash_lsh ran 7.2 s of single-task
    * signature stages on one core while 31 idled — with the floor the
    * bench-shape query dropped 3.40 → 2.53 s (containment 3.28 →
    * 1.90, ngram_jaccard 3.49 → 2.27). Scale behavior: at production
    * scale scan partition counts exceed core counts, so the floor
    * never engages and no shuffle is added — adaptive to the input,
    * not a local-mode constant. Applied ONLY in the heavy-expression
    * operators: a global reader-level floor measured a ~0.2–0.7 s
    * shuffle+planning tax on every cheap single-pass query, which a
    * 32-way corpus of sub-millisecond scans never earns back.
    * Determinism: round-robin repartition local-sorts its input
    * (SPARK-23207), and every downstream aggregate here is
    * partition-order immune (integer/exact arithmetic).
    */
  private[graft] def scanParallelismFloor(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // r14-ADVICE fix: probing `df.rdd` on a shuffle-bearing plan under
    // AQE finalizes the adaptive plan and eagerly EXECUTES the upstream
    // shuffle stages, which the real query then re-runs (no
    // cross-execution stage reuse) — silently doubling the upstream
    // work for a non-scan input. Gate the probe on NARROW-over-scan
    // plans (projections/filters/generates/unions over leaf relations),
    // where `.rdd` builds the scan RDD without launching any job and
    // the probed count really is the scan's. A shuffle-bearing input is
    // already redistributed by its own exchange, so the floor had
    // nothing to add there anyway. The probe reads the frame's own
    // `queryExecution.toRdd`: `df.rdd` would plan a second query with a
    // Row deserializer on top and compile it, for the same count.
    import org.apache.spark.sql.catalyst.plans.logical._
    val wide = df.queryExecution.optimizedPlan.collectFirst {
      case p if !(p.isInstanceOf[Project] || p.isInstanceOf[Filter] ||
        p.isInstanceOf[Generate] || p.isInstanceOf[Union] ||
        p.isInstanceOf[LeafNode]) => p
    }.isDefined
    if (!wide && df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** THE CAPPED-BUCKET CONTRACT of every LSH and posting-list dedup
    * operator: the rows of `keyed` that share their `keys` values form
    * a bucket, and a bucket of more than `cap` rows yields no pairs.
    * One hot key (a boilerplate shingle, a degenerate band, an
    * all-zero vector) would otherwise become an m²-pair task; a
    * dropped bucket only costs recall on pairs that another band or
    * table still catches. A pair is emitted with `id_a < id_b`.
    *
    * `bucketSizes` is the one bucket-size count (`bucket_n`), one
    * map-side-combined aggregate over the slim keyed rows;
    * [[cappedBuckets]], [[bucketPairs]], [[bucketProfile]] and
    * [[pairWork]] are the only readers of it.
    */
  private[graft] def bucketSizes(keyed: DataFrame, keys: Seq[String]): DataFrame =
    keyed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bucket_n"))

  /** The rows of `keyed` whose bucket holds at most `cap` rows. */
  private[graft] def cappedBuckets(keyed: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    keyed.join(bucketSizes(keyed, keys).filter(col("bucket_n") <= cap)
      .select(keys.map(col): _*), keys)

  /** The self-join of [[cappedBuckets]] on `keys`, one row per shared
    * bucket of a pair with `id_a < id_b`. `keyed` holds an `id` column;
    * every other non-key column `c` comes out as `c_a` and `c_b`. The
    * caller dedups the pairs, counts their shared buckets, or neither
    * (when a row sits in one bucket only).
    */
  private[graft] def bucketPairs(keyed: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val sized = cappedBuckets(keyed, keys, cap)
    def side(s: String): DataFrame = sized.select(keys.map(col) ++
      keyed.columns.filterNot(keys.contains).map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), keys).filter(col("id_a") < col("id_b"))
  }

  /** The candidate-pair work m·(m−1)/2 of a bucket of `m` rows, 0 over
    * the cap. m·(m−1) is even and never negative, so the right shift
    * is the exact halving; m ≤ cap keeps the product under 2⁶³.
    */
  private[graft] def pairWork(m: Column, cap: Int): Column =
    when(m <= cap.toLong, shiftright(m * (m - 1L), 1)).otherwise(0L)

  /** The occupancy rollup of `keyed`'s buckets per value of `keys.head`
    * (a band or a table): (n_buckets, `total` rows, max_occupancy,
    * avg_occupancy, n_over_cap, candidate_pairs), where
    * candidate_pairs is Σ [[pairWork]], the work the capped join pays.
    * Counts are exact longs (over-cap buckets add no work, so the sum
    * stays far under 2⁶³ at any corpus size); avg_occupancy is one
    * IEEE division, 1e-6-quantized.
    */
  private[graft] def bucketProfile(keyed: DataFrame, keys: Seq[String], cap: Int,
                                   total: String): DataFrame = {
    val m = col("bucket_n")
    bucketSizes(keyed, keys).groupBy(keys.head)
      .agg(count(lit(1)).as("n_buckets"),
        sum(m).as(total),
        max(m).as("max_occupancy"),
        graft.functions.MathFunctions.roundTo(
          sum(m).cast(DoubleType) / count(lit(1)).cast(DoubleType), 6).as("avg_occupancy"),
        sum(when(m > cap.toLong, 1L).otherwise(0L)).as("n_over_cap"),
        sum(pairWork(m, cap)).as("candidate_pairs"))
  }

  /** Exact dedup: group by normalized-text fingerprint; keep the
    * minimum id as canonical. One hash-aggregate shuffle; the map-side
    * partial aggregation makes this safe on 100 TB of documents.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("canonical_id"), count("*").as("n_docs"))

  /** Default coefficients for the SQL-registered `minhash_signature`
    * — same [[DefaultSeed]] family as the operator surface, so the
    * SQL function and the DataFrame operators agree under the
    * oracle-robustness salt too.
    */
  def defaultCoeffs(numHashes: Int): Seq[(Long, Long)] = minhashCoeffs(numHashes, DefaultSeed)

  /** Seeded MinHash coefficient pairs (a, b), identical on every
    * executor because they are baked into the plan as literals.
    * Public so the oracle SQL generator can bake the SAME pairs into
    * the DuckDB replication of the signature.
    */
  def minhashCoeffs(numHashes: Int, seed: Long = graft.operators.Dedup.DefaultSeed): Seq[(Long, Long)] = {
    val rng = new Random(seed)
    Seq.fill(numHashes)((math.abs(rng.nextLong()) % Prime + 1, math.abs(rng.nextLong()) % Prime))
  }

  /** Default seed for the portable LSH chains (MinHash coefficients,
    * hyperplanes): 42 unless [[graft.config.PortableSalt]] is set —
    * the oracle-robustness knob that re-derives the whole constant
    * family on both engines.
    */
  val DefaultSeed: Long = graft.config.PortableSalt.seed

  /** Cross-engine 60-bit string hash: the first 15 hex chars of md5,
    * parsed as an integer. Any engine with md5 reproduces it exactly
    * (the DuckDB oracle does); it is the one hash of every MinHash
    * signature, band key and SimHash here, so each approximate
    * pipeline is independently recomputable. Under
    * [[graft.config.PortableSalt]] the salt prefixes the md5 input (on
    * both engines); unsalted, the expression is exactly the committed
    * baseline's.
    */
  def portableHash60(s: Column): Column =
    if (graft.config.PortableSalt.isDefault)
      conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")
    else
      conv(substring(md5(concat(lit(graft.config.PortableSalt.hashPrefix),
        s.cast("string")).cast("binary")), 1, 15), 16, 10).cast("long")

  /** MinHash signature of the shingle set as `array<bigint>`:
    * min over shingles of `(a·(portableHash60(s) mod P) + b) mod P` per
    * hash function — a native one-pass expression
    * ([[graft.plans.MinHashSignatureExpr]]); all K mins computed in a
    * single compiled loop over the shingle array.
    */
  def minhashSignature(shingles: Column, numHashes: Int = 128,
                       seed: Long = graft.operators.Dedup.DefaultSeed): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.plans.MinHashSignatureExpr(
      expression(shingles), minhashCoeffs(numHashes, seed), Prime))
  }

  /** LSH band keys: hash each r-row slice of the signature. Two docs
    * land in the same (band, key) bucket iff their signatures agree on
    * that band — P[collision] = 1-(1-j^r)^b for Jaccard j. The key is
    * the slice's values joined by "_" (engine-independent). Computed
    * natively by [[graft.plans.BandKeysExpr]], with the same
    * [[graft.plans.BandKeys]] function the [[MinhashKernel]] buckets by.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.plans.BandKeysExpr(expression(sig), bands, rowsPerBand))
  }

  /** One document in the [[MinhashKernel]]: its shingles as UTF-8
    * bytes (byte equality is the equality `array_intersect` uses; the
    * shingles are distinct by construction) and its MinHash signature.
    */
  private final case class KDoc(shingles: Array[Array[Byte]], sig: Array[Long])

  /** The co-partitioned MinHash-LSH kernel: the one implementation of
    * candidate generation, exact verification and the index probe
    * behind [[minhashNearDups]], [[containmentNearDups]] and
    * [[incrementalMinhash]] — the text-side twin of
    * [[Graphs.NodeKernel]].
    *
    * The input frame is projected once through Catalyst
    * ([[scanParallelismFloor]], then id, [[wordShingles]] and
    * [[minhashSignature]]) and read through `queryExecution.toRdd` into
    * documents keyed by id, held as one block per partition
    * ([[RddKernel.hold]]). Everything after that is RDD code under one
    * `HashPartitioner(spark.sql.shuffle.partitions)`, and every shuffle
    * is a block shuffle ([[RddKernel.combine]] or [[RddKernel.ship]]),
    * so a call plans one SQL projection instead of a chain of join and
    * aggregate plans:
    *
    *  - buckets: each document's [[graft.plans.BandKeys]] rows
    *    `((band, key), id)`, combined per target partition into one
    *    member list per bucket before they leave the map side;
    *  - candidates: every distinct pair (a, b), a < b, sharing a bucket
    *    of at most `maxBucketSize` members, combined by a the same way. A
    *    bigger bucket yields no pairs: m members cost m² pairs, and
    *    near-dups in a mega-bucket are overwhelmingly re-found by other
    *    bands. Neither shuffle carries text;
    *  - verification: two co-partitioned joins with the documents (a's
    *    shingles travel to b's partition, once per block however many
    *    b's there share a) give `inter`, |A| and |B| for every
    *    candidate;
    *  - [[indexMatches]]: the same band keys, derived from a persisted
    *    signature index, probe it with the batch's buckets;
    *  - [[survivors]]: the input's rows meet the dropped ids under the
    *    same partitioner, so [[incrementalMinhash]]'s result needs no
    *    Catalyst anti-join.
    *
    * Ids are read as longs (any integral id column) and written back in
    * the id column's own type. Rows with a null id or a null text can
    * pair with nothing and are skipped. Every stage is lazy: the caller
    * materializes its result (one job) and then [[close]]s the kernel,
    * which drops its caches.
    */
  private[graft] final class MinhashKernel(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, numHashes: Int, bands: Int, seed: Long, maxBucketSize: Int)
      extends RddKernel(df, idCol, "MinHash dedup") {
    private val r = numHashes / bands

    /** id → document, in scan partitions: feeds the buckets and the
      * verification side. Lazy, so a kernel is free to build and its
      * first stage runs on whichever thread first asks for a result. */
    private lazy val scanned: RDD[(Long, KDoc)] = {
      val base = scanParallelismFloor(df).select(col(idCol).cast("long").as("id"),
        wordShingles(col(textCol), shingleSize).as("shingles"))
      hold(base.withColumn("sig", minhashSignature(col("shingles"), numHashes, seed))
        .queryExecution.toRdd.flatMap { row =>
          if (row.isNullAt(0) || row.isNullAt(1)) None
          else {
            val sh = row.getArray(1)
            Some((row.getLong(0), KDoc(Array.tabulate(sh.numElements())(sh.getUTF8String(_).getBytes),
              row.getArray(2).toLongArray())))
          }
        })
    }

    /** id → document under [[partitioner]]: the verification side. */
    private lazy val docs: RDD[(Long, KDoc)] = hold(ship(scanned))

    /** ((band, key), id) for every band of every signature. */
    private def keyed(sigs: RDD[(Long, Array[Long])]): RDD[((Int, UTF8String), Long)] = {
      val (b, rows) = (bands, r)
      sigs.flatMap { case (id, sig) =>
        Iterator.tabulate(b)(j => ((j, BandKeys.key(sig, j, rows)), id))
      }
    }

    /** (band, key) → member ids, for every bucket of the batch. */
    private lazy val buckets: RDD[((Int, UTF8String), Array[Long])] =
      hold(combine(keyed(scanned.mapValues(_.sig)))(
          (id: Long) => new mutable.ArrayBuilder.ofLong().addOne(id),
          (m: mutable.ArrayBuilder.ofLong, id: Long) => m.addOne(id),
          (m: mutable.ArrayBuilder.ofLong, o: mutable.ArrayBuilder.ofLong) => m.addAll(o.result()))
        .mapValues(_.result()))

    /** a → the distinct b > a that share a capped bucket with a, under
      * [[partitioner]]. */
    private[graft] lazy val candidates: RDD[(Long, Array[Long])] = {
      val cap = maxBucketSize
      distinctPairs(buckets.flatMap { case (_, m) =>
        if (m.length > cap) Iterator.empty
        else for {
          i <- m.indices.iterator
          j <- (i + 1 until m.length).iterator
          if m(i) != m(j)
        } yield if (m(i) < m(j)) (m(i), m(j)) else (m(j), m(i))
      }).setName(s"MinhashKernel.candidates(maxBucketSize=$cap)")
    }

    private def distinctPairs(pairs: RDD[(Long, Long)]): RDD[(Long, Array[Long])] =
      combine(pairs)((b: Long) => mutable.HashSet(b),
          (s: mutable.HashSet[Long], b: Long) => s += b,
          (s: mutable.HashSet[Long], o: mutable.HashSet[Long]) => s ++= o)
        .mapValues(_.toArray)

    /** (a, b, score) for every candidate whose `score(inter, |A|, |B|)`
      * reaches `threshold`. */
    def scored(threshold: Double)(score: (Int, Int, Int) => Double): RDD[(Long, Long, Double)] = {
      val shipped = ship(candidates.zipPartitions(docs) { (cand, ds) =>
        val byId = groupById(ds)
        for {
          (a, bs) <- cand
          d <- byId.getOrElse(a, Nil).iterator
          b <- bs.iterator
        } yield (b, (a, d.shingles))
      })
      shipped.zipPartitions(docs) { (in, ds) =>
        val byId = groupById(ds)
        val sets = mutable.LongMap.empty[List[java.util.HashSet[UTF8String]]]
        in.flatMap { case (b, (a, shA)) =>
          sets.getOrElseUpdate(b, byId.getOrElse(b, Nil).map { d =>
            val s = new java.util.HashSet[UTF8String](d.shingles.length * 2)
            d.shingles.foreach(x => s.add(UTF8String.fromBytes(x)))
            s
          }).iterator.flatMap { setB =>
            val inter = shA.count(x => setB.contains(UTF8String.fromBytes(x)))
            val v = score(inter, shA.length, setB.size)
            if (v >= threshold) Iterator.single((a, b, v)) else Iterator.empty
          }
        }
      }
    }

    /** The pairs of [[scored]] as an (id_a, id_b, `scoreName`) frame,
      * materialized (one job) so the caller may [[close]] the kernel. */
    def pairs(scoreName: String, threshold: Double)(score: (Int, Int, Int) => Double): DataFrame = {
      val out = idOut
      CheckpointBridge.localCheckpointRows(spark,
        scored(threshold)(score).map { case (a, b, v) => InternalRow(out(a), out(b), v) },
        StructType(Seq(idField.copy(name = "id_a"), idField.copy(name = "id_b"),
          StructField(scoreName, DoubleType, nullable = true))))
    }

    /** Indexed documents, read from (doc_id, sig) rows and cached. */
    private[graft] def readIndex(index: DataFrame): RDD[(Long, Array[Long])] =
      hold(index.select(col("doc_id").cast("long"), col("sig"))
        .queryExecution.toRdd.flatMap { row =>
          if (row.isNullAt(0) || row.isNullAt(1)) None
          else Some((row.getLong(0), row.getArray(1).toLongArray()))
        })

    /** Batch id → the distinct indexed ids that share one of its
      * buckets, under [[partitioner]]. The index's band keys come from
      * its signatures through the same [[graft.plans.BandKeys]]; they
      * shuffle uncombined and only keys the batch holds are kept, so
      * the index's many single-member buckets cost no combiner. An
      * index bucket over `maxBucketSize` members is skipped (a
      * boilerplate bucket that grew across many commits); the batch's
      * buckets are not capped. */
    private[graft] def indexCandidates(idx: RDD[(Long, Array[Long])]): RDD[(Long, Array[Long])] = {
      val cap = maxBucketSize
      distinctPairs(buckets.zipPartitions(ship(keyed(idx))) { (batch, indexed) =>
        val news = batch.toMap
        val olds = mutable.HashMap.empty[(Int, UTF8String), mutable.ArrayBuilder.ofLong]
        indexed.foreach { case (k, o) =>
          if (news.contains(k)) olds.getOrElseUpdate(k, new mutable.ArrayBuilder.ofLong).addOne(o)
        }
        for {
          (k, os) <- olds.iterator
          members = os.result()
          if members.length <= cap
          n <- news(k).iterator
          o <- members.iterator
        } yield (n, o)
      })
    }

    /** Ids of batch documents whose signature agrees with a candidate
      * indexed document's ([[indexCandidates]]) on at least
      * `minMatches` rows. The batch's signatures travel to the indexed
      * ids' partitions; indexed documents carry no text.
      */
    def indexMatches(index: DataFrame, minMatches: Int): RDD[Long] = {
      val idx = readIndex(index)
      val shipped = ship(indexCandidates(idx).zipPartitions(docs) { (c, ds) =>
        val byId = groupById(ds)
        for {
          (n, olds) <- c
          d <- byId.getOrElse(n, Nil).iterator
          o <- olds.iterator
        } yield (o, (n, d.sig))
      })
      shipped.zipPartitions(ship(idx)) { (in, is) =>
        val sigOf = groupById(is)
        in.collect { case (o, (n, sig)) if sigOf.getOrElse(o, Nil).exists(agreement(sig, _) >= minMatches) => n }
      }
    }

    /** The input frame's rows whose id is not in `drops`, with the
      * columns of `df.join(ids, Seq(idCol), "left_anti")` (the id
      * column first), materialized (one job). Every row travels to
      * its id's partition and meets the dropped ids there; rows with a
      * null id, or a null text the kernel never scanned, are kept. */
    def survivors(drops: RDD[Long]): DataFrame = {
      import org.apache.spark.sql.graftbridge.ColumnBridge.column
      val resolver = spark.sessionState.conf.resolver
      val (key, rest) = df.queryExecution.analyzed.output.partition(a => resolver(a.name, idCol))
      require(key.size == 1, s"$idCol must name exactly one column of the input")
      val input = df.select((key ++ rest).map(column): _*)
      val id: InternalRow => java.lang.Long = idField.dataType match {
        case ByteType => r => if (r.isNullAt(0)) null else r.getByte(0).toLong
        case ShortType => r => if (r.isNullAt(0)) null else r.getShort(0).toLong
        case IntegerType => r => if (r.isNullAt(0)) null else r.getInt(0).toLong
        case _ => r => if (r.isNullAt(0)) null else r.getLong(0)
      }
      val rows = ship(input.queryExecution.toRdd.map(r => (id(r), r.copy())))
      val kept = rows.zipPartitions(ship(drops.map(d => (java.lang.Long.valueOf(d), ())))) { (rs, ds) =>
        val gone = mutable.LongMap.empty[Unit]
        ds.foreach { case (d, _) => gone(d) = () }
        rs.collect { case (k, r) if k == null || !gone.contains(k) => r }
      }
      CheckpointBridge.localCheckpointRows(spark, kept, input.schema)
    }
  }

  /** id → every value with that id (ids may repeat, as rows of a join side). */
  private def groupById[T](it: Iterator[(Long, T)]): mutable.LongMap[List[T]] = {
    val m = mutable.LongMap.empty[List[T]]
    it.foreach { case (id, v) => m(id) = v :: m.getOrElse(id, Nil) }
    m
  }

  /** Rows on which two signatures agree (over the shorter one's length). */
  private def agreement(x: Array[Long], y: Array[Long]): Int = {
    var n = 0
    var i = 0
    while (i < math.min(x.length, y.length)) { if (x(i) == y(i)) n += 1; i += 1 }
    n
  }

  /** Runs `body` over a fresh kernel and drops the kernel's caches after
    * `body` has materialized its result. */
  private def withMinhashKernel[T](df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, numHashes: Int, bands: Int, seed: Long,
      maxBucketSize: Int)(body: MinhashKernel => T): T = {
    val k = new MinhashKernel(df, textCol, idCol, shingleSize, numHashes, bands, seed,
      maxBucketSize)
    try body(k) finally k.close()
  }

  /** Exact Jaccard of two distinct shingle sets: inter / (|A| + |B| − inter). */
  private val jaccard = (inter: Int, a: Int, b: Int) => inter.toDouble / (a + b - inter).toDouble

  /** Max-containment of two distinct shingle sets: inter / min(|A|, |B|). */
  private val containment = (inter: Int, a: Int, b: Int) => inter.toDouble / math.min(a, b).toDouble

  /** MinHash band-bucket occupancy profile — the text-side twin of
    * [[Similarity.lshBucketProfile]]: per band, the [[bucketProfile]]
    * rollup — bucket count, max/avg occupancy, buckets over the cap,
    * and the EXACT candidate-pair work Σ m·(m−1)/2 under the cap that
    * [[minhashNearDups]]' candidate join will pay. Run it before a
    * corpus-scale dedup to see which bands carry hot buckets
    * (degenerate shingles, boilerplate) and how much the cap is
    * actually dropping. Unlike the hyperplane key space (fixed
    * 2^nPlanes — density-quadratic, see the knnGraph guidance), band
    * keys hash full signature slices, so occupancy here tracks true
    * near-dup structure plus degenerate content, not corpus density —
    * the profile tells you which.
    *
    * Determinism/portability: identical signature/band chain as the
    * build (same seed, same hash).
    *
    * Scale shape: one corpus scan into slim (id, band, key) rows, one
    * map-side-combined (band, key) count, one tiny per-band rollup;
    * shingles never leave the scan, text never shuffles.
    */
  def minhashBandProfile(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 32,
      seed: Long = graft.operators.Dedup.DefaultSeed,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes=$numHashes must be divisible by bands=$bands")
    val r = numHashes / bands
    val base = df.select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleSize).as("shingles"))
    val sigs = base.withColumn("sig", minhashSignature(col("shingles"), numHashes, seed))
    val keyed = sigs
      .select(col("id"), explode(bandKeys(col("sig"), bands, r)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    bucketProfile(keyed, Seq("band", "key"), maxBucketSize, "n_docs").orderBy("band")
  }

  /** Threshold-consistent LSH band count: among the divisors `b` of
    * `numHashes`, the one whose banding S-curve midpoint (1/b)^(1/r)
    * with r = numHashes/b sits closest to the verify `threshold` —
    * the classic sizing rule (the midpoint is where the collision
    * probability 1−(1−j^r)^b rises fastest, so candidates concentrate
    * around pairs the verify will actually keep). For numHashes = 128:
    * threshold 0.9 → 8 bands, 0.7 → 16, 0.4 → 32, 0.15 → 64.
    *
    * Advisory, not a default: unlike hyperplane key depth (a measured
    * SCALE trap, [[AutoPlanes]]), band count is a RECALL/precision
    * dial — candidate work stays cap-bounded at any banding — so the
    * committed operator defaults stay pinned and this feeds
    * [[minhashRecallProfile]]'s `bandsList` (probe around the rule's
    * pick, read the measured work/recall row, then build).
    * Deterministic: StrictMath on exact divisor arithmetic; ties take
    * the fewest bands.
    */
  def derivedBands(numHashes: Int, threshold: Double): Int = {
    require(numHashes >= 1, s"numHashes must be positive, got $numHashes")
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1), got $threshold")
    (1 to numHashes).filter(numHashes % _ == 0).minBy { b =>
      val r = numHashes / b
      StrictMath.abs(StrictMath.pow(1.0 / b, 1.0 / r) - threshold)
    }
  }

  /** The recall half of the band-count decision —
    * [[minhashBandProfile]] reports what a banding COSTS; this reports
    * what it actually CATCHES, the text-side twin of
    * [[Similarity.lshRecallProfile]]. One row per candidate `bands`
    * value (numHashes fixed): (n_bands, candidate_pairs, hits,
    * truth_n, recall) where candidate_pairs is the exact capped
    * candidate-join work Σ m·(m−1)/2 across bands and recall is
    * measured on a deterministic `sampleQ`-document sample: of the
    * TRUE near-dup pairs (exact shingle Jaccard ≥ `threshold`)
    * touching a sampled doc, the fraction whose pair shares at least
    * one capped band bucket. This turns the theoretical
    * 1−(1−j^r)^b recall curve into an empirical measurement on the
    * actual corpus — boilerplate, skew, caps and all — BEFORE the
    * corpus-scale dedup pays for the banding it picks.
    *
    * Determinism/portability: the sample is the `sampleQ` ids with the
    * largest portable seed-hash (the k-means-seed chain); truth is the
    * same exact-Jaccard arithmetic as [[minhashNearDups]]' verify
    * (integer set sizes, one IEEE division); signatures/band keys are
    * the identical chain as the build, so the whole profile is
    * engine-replayable.
    *
    * Scale shape: truth is ONE corpus scan against the broadcast
    * Q-row shingle sample; each bands value is one more scan into slim
    * (id, band, key) rows (shingles never shuffle), a map-side
    * -combined bucket count, and a broadcast join against the sample's
    * ≤ Q·bands bucket keys. Candidate rows are capped by
    * Q · bands · maxBucketSize.
    */
  def minhashRecallProfile(
      df: DataFrame, textCol: String, idCol: String,
      bandsList: Seq[Int], shingleSize: Int = 5, numHashes: Int = 128,
      threshold: Double = 0.7, seed: Long = graft.operators.Dedup.DefaultSeed,
      maxBucketSize: Int = 1000, sampleQ: Int = 8): DataFrame = {
    require(bandsList.nonEmpty && bandsList.forall(b => b >= 1 && numHashes % b == 0),
      s"every bands value must divide numHashes=$numHashes, got $bandsList")
    require(sampleQ >= 1, s"sampleQ must be positive, got $sampleQ")
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    val rd = graft.functions.MathFunctions.roundTo _
    val base = scanParallelismFloor(df).select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleSize).as("shingles"))
    // deterministic portable sample (same chain as the k-means seeds);
    // Q rows, reused by truth + every bands value
    val sample = CheckpointBridge.localCheckpointFreshStats(
      Similarity.seedSample(base, sampleQ).select(col("query_id"), col("shingles").as("q_sh")))
    // exact ground truth: near-dup pairs by shingle Jaccard >= threshold
    // (the same verify arithmetic as minhashNearDups), self excluded;
    // bounded by Q · near-dup degree
    val truth = CheckpointBridge.localCheckpointFreshStats(
      base.crossJoin(broadcast(sample))
        .filter(col("id") =!= col("query_id"))
        .filter(size(array_intersect(col("shingles"), col("q_sh"))).cast("double") /
          size(array_union(col("shingles"), col("q_sh"))).cast("double") >= threshold)
        .select(col("query_id"), col("id").as("corpus_id")))
    val truthN = truth.agg(count(lit(1)).as("truth_n"))
    // Branch overlap (the lshRecallProfile r15 change): measured and
    // REVERTED here — this operator's lazy 3-branch union is already
    // compute-efficient (AQE materializes the independent branch
    // stages concurrently inside one job, and exchange reuse shares
    // the floored scan), while eager per-branch materialization made
    // it 1.46 → 2.34 s and adding a shared signature checkpoint
    // 3.08 s. The embedding twin won from the same pattern because it
    // was GAP-bound (2.3 CPU-s across 22 sequential stages), not
    // compute-bound.
    bandsList.map { b =>
      val r = numHashes / b
      val buckets = base
        .withColumn("sig", minhashSignature(col("shingles"), numHashes, seed))
        .select(col("id"), explode(bandKeys(col("sig"), b, r)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
      val work = bucketSizes(buckets, Seq("band", "key"))
        .agg(coalesce(sum(pairWork(col("bucket_n"), maxBucketSize)), lit(0L)).as("candidate_pairs"))
      val qb = sample
        .withColumn("sig", minhashSignature(col("q_sh"), numHashes, seed))
        .select(col("query_id"), explode(bandKeys(col("sig"), b, r)).as("bk"))
        .select(col("query_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      val cand = cappedBuckets(buckets, Seq("band", "key"), maxBucketSize)
        .join(broadcast(qb), Seq("band", "key"))
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("corpus_id")).distinct()
      val hits = cand.join(broadcast(truth), Seq("query_id", "corpus_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      work.crossJoin(hits).crossJoin(truthN)
        .select(lit(b).as("n_bands"), col("candidate_pairs"), col("hits"),
          col("truth_n"),
          when(col("truth_n") === 0L, lit(1.0))
            .otherwise(rd(col("hits").cast("double") / col("truth_n").cast("double"), 6))
            .as("recall"))
    }.reduce(_ union _).orderBy("n_bands")
  }

  /** Candidate pairs from LSH banding, verified with exact Jaccard over
    * the shingle sets. Returns (id_a, id_b, jaccard) with id_a < id_b
    * and jaccard >= threshold, materialized by one [[MinhashKernel]] job
    * (the id column must be integral).
    */
  def minhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.7, seed: Long = graft.operators.Dedup.DefaultSeed,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes=$numHashes must be divisible by bands=$bands " +
        "(a remainder silently drops hashes from the band keys, degrading LSH recall)")
    withMinhashKernel(df, textCol, idCol, shingleSize, numHashes, bands, seed,
      maxBucketSize)(_.pairs("jaccard", threshold)(jaccard))
  }

  /** Containment near-dups (Gopher/MassiveText-style): candidates from
    * the SAME MinHash-LSH banding as [[minhashNearDups]], but verified
    * with MAX-CONTAINMENT `|A∩B| / min(|A|, |B|)` over the shingle
    * sets — the right metric when "duplicate" means one document
    * EMBEDS the other (quoted articles, boilerplate-wrapped copies,
    * template fills), which symmetric Jaccard under-scores as the
    * size gap grows (a doc fully contained in one 3× its size caps at
    * jaccard 1/3 but containment 1.0).
    *
    * Honest recall note: candidate generation is Jaccard-driven
    * (MinHash bands collide with probability set by the SYMMETRIC
    * overlap), so severe size asymmetry lowers band-collision odds —
    * the standard practice this mirrors (containment verify over
    * MinHash candidates) trades that tail for the same capped-bucket
    * scale shape as every other LSH operator here; true asymmetric
    * hashing would need a different candidate scheme.
    * Returns (id_a, id_b, containment) with id_a < id_b, materialized
    * by one [[MinhashKernel]] job.
    */
  def containmentNearDups(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, seed: Long = graft.operators.Dedup.DefaultSeed,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes=$numHashes must be divisible by bands=$bands")
    withMinhashKernel(df, textCol, idCol, shingleSize, numHashes, bands, seed,
      maxBucketSize)(_.pairs("containment", threshold)(containment))
  }

  /** Edit-distance-verified near-dup pairs: MinHash-LSH banding
    * proposes candidates (identical generation to
    * [[minhashNearDups]] — same signatures, bands, bucket cap), but
    * verification is `levenshtein(a, b) <= maxDist` over the RAW
    * text instead of shingle Jaccard — the right verifier when
    * "duplicate" means a few character edits (OCR noise, template
    * fills, typo farms) rather than shared vocabulary. Returns
    * (id_a, id_b, dist) with id_a < id_b, dist <= maxDist.
    *
    * Cost control for the quadratic kernel: Spark's bounded
    * `levenshtein(l, r, threshold)` runs the banded O(maxDist·n)
    * algorithm and bails to -1 past the bound, and a length
    * pre-filter |len_a − len_b| ≤ maxDist (edit distance is ≥ the
    * length gap) discards most candidates while pairs are still
    * (id, id, int) rows — text is joined back only for surviving
    * pairs, once per side, and never rides the banding explode.
    *
    * Engine note: Spark counts edits in CODEPOINTS; DuckDB's
    * levenshtein counts UTF-8 bytes. Identical on ASCII (the oracle
    * corpus); multi-byte text can differ — documented rather than
    * papered over, since codepoints are the semantics a user wants.
    */
  def editDistanceNearDups(
      df: DataFrame, textCol: String, idCol: String,
      maxDist: Int, shingleSize: Int = 3, numHashes: Int = 128,
      bands: Int = 32, seed: Long = graft.operators.Dedup.DefaultSeed,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes=$numHashes must be divisible by bands=$bands")
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val r = numHashes / bands
    val base = scanParallelismFloor(df).select(col(idCol).as("id"), col(textCol).as("txt"),
      length(col(textCol)).as("len"),
      wordShingles(col(textCol), shingleSize).as("shingles"))
    val sigs = base.withColumn("sig", minhashSignature(col("shingles"), numHashes, seed))
    // Bucket rows carry (id, len, band, key): len is one long and
    // lets the length pre-filter run BEFORE any text moves.
    val buckets = sigs
      .select(col("id"), col("len"),
        explode(bandKeys(col("sig"), bands, r)).as("bk"))
      .select(col("id"), col("len"), col("bk.band"), col("bk.key"))
    val cand = bucketPairs(buckets, Seq("band", "key"), maxBucketSize)
      .filter(abs(col("len_a") - col("len_b")) <= lit(maxDist.toLong))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val txtA = base.select(col("id").as("id_a"), col("txt").as("txt_a"))
    val txtB = base.select(col("id").as("id_b"), col("txt").as("txt_b"))
    cand.join(txtA, "id_a").join(txtB, "id_b")
      .withColumn("dist", levenshtein(col("txt_a"), col("txt_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** SimHash over the low `nBits` bits of the portable 60-bit md5
    * token hash, hashed natively in the expression loop
    * ([[graft.plans.SimHash64Expr]]); the DuckDB oracle recomputes it.
    */
  def simhashPortable(text: Column, nBits: Int = 60): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.plans.SimHash64Expr(expression(tokens(text)), nBits))
  }

  /** SimHash near-dups: [[hammingNearDups]] over the 60-bit
    * [[simhashPortable]] fingerprint in 4 × 15-bit chunks (pigeonhole:
    * Hamming ≤ 3 ⇒ at least one chunk equal), verified with
    * `bit_count(xor)`.
    */
  def simhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame =
    hammingNearDups(df.withColumn("__sig", simhashPortable(col(textCol), 60)),
      "__sig", idCol, nBits = 60, bands = 4, maxHamming, maxBucketSize)

  /** Driver-side scale fence for the EXACT all-pairs oracle paths.
    *
    * The exact pairwise operators ([[ngramJaccardPairs]],
    * [[embedCosinePairsExact]]) exist as LSH-RECALL ORACLES: their
    * joins are deliberately uncapped (a cap would bias the recall
    * measurement), so their cost is quadratic in the hottest key /
    * corpus size and they must never run on a full production corpus.
    * This fence makes that contract executable — the query fails
    * BEFORE the quadratic join is attempted, with the at-scale
    * alternative named in the message. One count() job on the (already
    * pruned) input frame; negligible next to the join it protects.
    */
  private[graft] def requireOracleScale(df: DataFrame, maxExactRows: Long,
                                        what: String, lshAlternative: String): DataFrame = {
    val n = df.count()
    require(n <= maxExactRows,
      s"$what is an exact all-pairs recall oracle fenced to <= $maxExactRows input rows " +
        s"(got $n); at scale run $lshAlternative and SAMPLE this oracle for recall measurement")
    df
  }

  /** Exact pairwise n-gram Jaccard via shingle-explode + equi-join on
    * the shingle value — every pair sharing ≥1 shingle is scored
    * exactly. This is the oracle-checkable exact counterpart of
    * [[minhashNearDups]]; at 100 TB you run the LSH variant and sample
    * this one for recall measurement — a contract enforced by the
    * `maxExactRows` fence ([[requireOracleScale]]): the shingle join
    * is deliberately uncapped (a bucket cap would bias the recall
    * oracle), so its hot-shingle cost is quadratic and the operator
    * refuses corpora beyond sample scale.
    */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5,
      maxExactRows: Long = 100000L): DataFrame = {
    requireOracleScale(df, maxExactRows, "ngramJaccardPairs", "minhashNearDups")
    val base = scanParallelismFloor(df).select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleSize).as("shingles"))
      .withColumn("n_sh", size(col("shingles")))
    val ex = base.select(col("id"), col("n_sh"), explode(col("shingles")).as("sh"))
    val a = ex.select(col("sh"), col("id").as("id_a"), col("n_sh").as("n_a"))
    val b = ex.select(col("sh"), col("id").as("id_b"), col("n_sh").as("n_b"))
    a.join(b, "sh").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count("*").as("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact all-pairs embedding cosine — the recall oracle for
    * [[embeddingNearDups]]'s hyperplane-LSH candidates. The join is a
    * deliberate full cross product (`id_a < id_b`) with NO bucket cap:
    * recall oracles must see every pair. Consequently it is fenced by
    * `maxExactRows` ([[requireOracleScale]]) — at 100 TB you run the
    * LSH variant and point this at a sampled slice.
    */
  def embedCosinePairsExact(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, maxExactRows: Long = 100000L): DataFrame = {
    val v = requireOracleScale(
      df.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v")),
      maxExactRows, "embedCosinePairsExact", "embeddingNearDups")
    val a = v.select(col("__id").as("id_a"), col("__v").as("va"))
    val b = v.select(col("__id").as("id_b"), col("__v").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Connected components over a near-dup pair list: every node gets
    * the minimum reachable id as its cluster id — the canonicalization
    * step that turns pairwise matches into dedup clusters.
    *
    * Algorithm: min-label propagation WITH pointer jumping (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * each round takes the min over {self, neighbours' labels, label's
    * label}. Round 1 (labels = min(self, min neighbour)) is the start
    * state, since round 1 can never be the converged round of a
    * non-empty graph. The jump halves label-chain depth per round, so
    * convergence takes O(log diameter) rounds instead of O(diameter);
    * it is engaged from round 3, so shallow graphs (the common dedup
    * case) converge before paying for it. maxIter = 32 total rounds
    * covers diameters beyond 2^28 (a 300k-node CHAIN — the StressSpec
    * power-law worst case — settles in ~21 rounds), and the
    * convergence early-exit makes the cap free for real dedup graphs;
    * a run that hits it logs a not-converged warning.
    *
    * Scale shape: [[Graphs.NodeKernel]] — the pairs are read once into
    * an undirected adjacency; a round is a map-side-combined min
    * message plus, with the jump, a request/reply keyed by label, all
    * under one partitioner, and its one job is the changed-node count
    * over the round's local-checkpointed labels. Labels never leave
    * the executors; the driver reads one count per round.
    *
    * Ids are read as longs (the pair columns must be integral) and
    * returned as (id, cluster_id) in the pair columns' type. A pair
    * with a null endpoint is dropped; a self-loop makes its endpoint a
    * (singleton) node.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                          maxIter: Int = 32): DataFrame = {
    // maxIter counts TOTAL rounds including round 1: a caller passing
    // 1 would get zero probed rounds and an unconditional
    // not-converged warning
    require(maxIter >= 2, s"maxIter=$maxIter must be >= 2 " +
      "(the init round is folded in; at least one probed round is needed)")
    Graphs.withKernel(pairs, aCol, bCol)(Graphs.componentsOn(_, maxIter))
  }

  /** Benchmark decontamination: drop (tag) documents that share any
    * word n-gram with a benchmark/eval corpus — the standard
    * training-data hygiene step. Shape: explode shingles on BOTH
    * sides, distinct the benchmark side (small — eval sets are tiny
    * next to the corpus; Spark broadcasts it under the threshold),
    * semi-join to find contaminated ids, anti-join them away. Every
    * step is an equi-join on the shingle key — scale-safe.
    */
  def decontaminate(df: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String,
                    shingleSize: Int = 5): DataFrame = {
    val docSh = df.select(col(idCol), explode(wordShingles(col(textCol), shingleSize)).as("__sh"))
    val benchSh = benchmark
      .select(explode(wordShingles(col(textCol), shingleSize)).as("__sh")).distinct()
    val contaminated = docSh
      .join(benchSh, "__sh")
      .select(col(idCol)).distinct()
    df.join(contaminated, Seq(idCol), "left_anti")
  }

  /** FUZZY benchmark decontamination: drop corpus documents whose
    * n-gram Jaccard against ANY benchmark document reaches
    * `threshold` — the near-duplicate form of [[decontaminate]].
    * Exact shingle-overlap misses the paraphrased/lightly-edited
    * benchmark copies that actually leak eval sets into web corpora
    * (GPT-3 §4 / Dolma-style "fuzzy decontamination"); this catches
    * them with the SAME MinHash+LSH machinery as [[minhashNearDups]],
    * but joined CROSS-corpus: corpus band buckets against benchmark
    * band buckets, never corpus-vs-corpus.
    *
    * Scale shape: both sides shuffle only slim (id, band, key) rows;
    * the bucket cap ([[cappedBuckets]]) applies to the CORPUS side (a
    * boilerplate bucket is the skew bomb — the benchmark side is
    * bounded by the eval suite's size, and AQE broadcasts it when it
    * is small);
    * candidates verify with exact Jaccard via two slim shingle joins.
    * Recall follows the standard LSH curve: P[candidate] =
    * 1-(1-j^r)^b — near-certain at j ≥ 0.5 with the 128/32 defaults.
    */
  def minhashDecontaminate(
      df: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.5, seed: Long = graft.operators.Dedup.DefaultSeed,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes=$numHashes must be divisible by bands=$bands " +
        "(a remainder silently drops hashes from the band keys, degrading LSH recall)")
    val r = numHashes / bands
    def prep(src: DataFrame): DataFrame = {
      val base = scanParallelismFloor(src).select(col(idCol).as("id"),
        wordShingles(col(textCol), shingleSize).as("shingles"))
      base.withColumn("sig", minhashSignature(col("shingles"), numHashes, seed))
    }
    def toBuckets(s: DataFrame, idName: String): DataFrame = s
      .select(col("id").as(idName),
        explode(bandKeys(col("sig"), bands, r)).as("bk"))
      .select(col(idName), col("bk.band"), col("bk.key"))
    val corpus = prep(df)
    val bench = prep(benchmark)
    val cb = toBuckets(corpus, "doc_id")
    val bb = toBuckets(bench, "bench_id")
    val cand = cappedBuckets(cb, Seq("band", "key"), maxBucketSize).join(bb, Seq("band", "key"))
      .select("doc_id", "bench_id").dropDuplicates("doc_id", "bench_id")
    val shC = corpus.select(col("id").as("doc_id"), col("shingles").as("sh_a"))
    val shB = bench.select(col("id").as("bench_id"), col("shingles").as("sh_b"))
    val contaminated = cand.join(shC, "doc_id").join(shB, "bench_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("inter") / col("uni") >= threshold)
      .select(col("doc_id").as(idCol)).distinct()
    df.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Incremental batch dedup against a persisted fingerprint index —
    * the "daily ingest" pattern: drop new documents whose normalized-
    * text fingerprint already exists in the index. Returns the
    * deduplicated batch.
    *
    * The survivors' fingerprints are NOT appended here: call
    * [[commitFingerprints]] only AFTER the batch has been durably
    * written downstream. Appending inside this call would make the
    * operation non-idempotent — a failed downstream write that
    * retries would find its own fingerprints already indexed, the
    * anti-join would drop every document, and the batch would be
    * silently lost.
    *
    * Scale shape: the index is a plain parquet table of fingerprints;
    * the membership test is a hash-partitioned `left_anti` equi-join
    * (no driver-side set, no broadcast of the corpus-sized index).
    * Within-batch duplicates collapse first via the same one-shuffle
    * group-by that [[exact]] uses.
    *
    * Durability: by default the result is pinned with
    * `localCheckpoint` — blocks live in EXECUTOR storage only, so
    * losing an executor between this call and the caller's durable
    * downstream write fails the whole batch unrecoverably (the
    * truncated lineage cannot recompute lost blocks). That is the
    * right trade on a healthy cluster (no extra I/O round-trip);
    * for very large batches or preemptible executors pass
    * `stagingPath = Some(dir)` to stage the survivors through a
    * durable parquet write instead — the returned frame then re-reads
    * from storage and ANY task loss replays from disk. The staging
    * dir is the caller's to clean after its downstream commit.
    */
  def incrementalExact(newDocs: DataFrame, textCol: String, idCol: String,
                       indexPath: String,
                       stagingPath: Option[String] = None): DataFrame = {
    val spark = newDocs.sparkSession
    val fp = newDocs.withColumn("__fp", fingerprint(col(textCol)))
    // collapse within-batch dups: keep the min-id representative
    val firstPerFp = fp.groupBy("__fp").agg(min(col(idCol)).as(idCol))
      .join(fp, Seq("__fp", idCol))
    val indexExists = {
      val p = new org.apache.hadoop.fs.Path(indexPath)
      // session conf, NOT a bare Configuration: spark.hadoop.* (e.g.
      // fs.defaultFS, object-store credentials) must resolve the SAME
      // filesystem spark.read below uses, or the existence check
      // silently consults the wrong store and dedup never engages
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    val fresh =
      if (!indexExists) firstPerFp
      else {
        val index = spark.read.parquet(indexPath).select(col("fingerprint").as("__fp"))
        firstPerFp.join(index, Seq("__fp"), "left_anti")
      }
    // Materialized so the caller's later actions (including the
    // commit) never re-run the anti-join against a changed index.
    // localCheckpoint = executor-local (fast, volatile); stagingPath =
    // durable parquet round-trip (survives executor loss) — see
    // the Durability note above.
    stagingPath match {
      case Some(dir) =>
        fresh.drop("__fp").write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir)
      case None =>
        org.apache.spark.sql.graftbridge.CheckpointBridge
          .localCheckpointFreshStats(fresh).drop("__fp")
    }
  }

  /** Record a durably-written batch's fingerprints in the index —
    * the commit half of [[incrementalExact]]; idempotency contract:
    * call exactly once per SUCCESSFULLY persisted batch.
    */
  def commitFingerprints(docs: DataFrame, textCol: String, indexPath: String): Unit =
    docs.select(fingerprint(col(textCol)).as("fingerprint"))
      .write.mode("append").parquet(indexPath)

  /** Incremental NEAR-dup dedup against a persisted MinHash-LSH index
    * — the fuzzy counterpart to [[incrementalExact]] for the daily-
    * ingest pattern: drop new documents that near-duplicate EITHER a
    * same-batch document (exact-Jaccard verified, keep-lowest-id) or
    * an already-indexed one. Returns the surviving rows of `newDocs`.
    *
    * Index layout: one parquet dataset, `indexPath/sigs`, with one
    * (doc_id, sig) row per indexed document; [[commitMinhash]] appends
    * to it once. The probe derives the index's band keys from those
    * signatures with the same [[graft.plans.BandKeys]] function the
    * batch is bucketed with, so no second dataset can fall out of step
    * with it. Indexed documents' raw text is NOT retained, so the
    * cross-batch verification uses the standard signature-agreement
    * Jaccard estimate (matching minhash fraction; unbiased,
    * ±1/√numHashes) rather than exact shingle Jaccard — the trade that
    * keeps the index O(docs), not O(corpus text).
    *
    * Scale shape: one [[MinhashKernel]] runs the within-batch step and
    * the index probe — the batch's buckets against the index's, with
    * the same `maxBucketSize` cap on index buckets every LSH path here
    * uses; signatures meet once per candidate pair. Same
    * commit-after-write contract as [[incrementalExact]]
    * ([[commitMinhash]] appends survivors only AFTER the caller's
    * durable downstream write). The result is a local checkpoint
    * with the columns of a `left_anti` join on the id column (the id
    * first), partitioned by id ([[MinhashKernel.survivors]]):
    * losing an executor before that write fails the batch (see
    * [[incrementalExact]]'s durability note). The id column must be
    * integral.
    */
  def incrementalMinhash(newDocs: DataFrame, textCol: String, idCol: String,
                         indexPath: String,
                         shingleSize: Int = 5, numHashes: Int = 128,
                         bands: Int = 32, threshold: Double = 0.7,
                         seed: Long = graft.operators.Dedup.DefaultSeed,
                         maxBucketSize: Int = 1000): DataFrame =
    incrementalMinhashImpl(newDocs, textCol, idCol, indexPath, shingleSize,
      numHashes, bands, threshold, seed, maxBucketSize, overlappedWork = None)

  /** [[incrementalMinhash]] with an independent unit of driver work —
    * in the intended use, the PREVIOUS batch's [[commitMinhash]] —
    * overlapped behind this batch's within-batch candidate build
    * (guide §2.6 job overlap): the within-batch near-dup phase depends
    * only on `newDocs`, while the overlapped work only WRITES the
    * index, and the barrier sits before this batch's first index READ
    * — so `incrementalMinhashOverlapping(b2, …, work = commit(s1))`
    * computes exactly what `{ commit(s1); incrementalMinhash(b2, …) }`
    * computes, with the commit's write jobs backfilling the candidate
    * build's inter-stage driver gaps. Exceptions from either side
    * rethrow (same failure surface as the sequential form).
    */
  private[graft] def incrementalMinhashOverlapping(
      newDocs: DataFrame, textCol: String, idCol: String,
      indexPath: String,
      shingleSize: Int = 5, numHashes: Int = 128,
      bands: Int = 32, threshold: Double = 0.7,
      seed: Long = graft.operators.Dedup.DefaultSeed,
      maxBucketSize: Int = 1000)(work: () => Unit): DataFrame =
    incrementalMinhashImpl(newDocs, textCol, idCol, indexPath, shingleSize,
      numHashes, bands, threshold, seed, maxBucketSize, overlappedWork = Some(work))

  private def incrementalMinhashImpl(newDocs: DataFrame, textCol: String, idCol: String,
                         indexPath: String,
                         shingleSize: Int, numHashes: Int,
                         bands: Int, threshold: Double,
                         seed: Long, maxBucketSize: Int,
                         overlappedWork: Option[() => Unit]): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes=$numHashes must be divisible by bands=$bands " +
        "(a remainder silently drops hashes from the band keys, degrading LSH recall)")
    val spark = newDocs.sparkSession
    withMinhashKernel(newDocs, textCol, idCol, shingleSize, numHashes, bands, seed,
        maxBucketSize) { k =>
      // within-batch near-dups: exact-verified pairs, keep the lowest id
      // (dropped b, the kept a it duplicates)
      def within() = k.hold(k.scored(threshold)(jaccard).map { case (a, b, _) => (b, a) })
      // Overlap point: materialize the within-batch drops WHILE the
      // caller's independent work — the previous batch's index commit —
      // runs on a second thread. The barrier (inParallel joins both) is
      // crossed before the index-existence check and the index read.
      val batchDrops = overlappedWork match {
        case Some(work) => Graphs.inParallel({ val w = within(); w.count(); w }, work())._1
        case None => within()
      }
      val sigsPath = s"$indexPath/sigs"
      val indexExists = {
        val p = new org.apache.hadoop.fs.Path(sigsPath)
        // session conf, not a bare Configuration — see incrementalExact
        p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
      }
      val drops =
        if (!indexExists) batchDrops.keys
        else batchDrops.keys.union(k.indexMatches(spark.read.parquet(sigsPath),
          math.ceil(threshold * numHashes).toInt))
      k.survivors(drops)
    }
  }

  /** Record a durably-written batch in the MinHash index — the commit
    * half of [[incrementalMinhash]]; call exactly once per
    * SUCCESSFULLY persisted batch (same idempotency contract as
    * [[commitFingerprints]]). Parameters must match the query half;
    * `bands` is only checked here, because the probe derives band keys
    * from the stored signatures.
    *
    * One append of (doc_id, sig) rows to `indexPath/sigs`, the whole
    * index: there is no second dataset whose write could fail after
    * this one, so every committed signature is one the probe finds.
    * [[incrementalMinhashOverlapping]] overlaps the whole commit behind
    * the next batch's within-batch build.
    */
  def commitMinhash(docs: DataFrame, textCol: String, idCol: String,
                    indexPath: String,
                    shingleSize: Int = 5, numHashes: Int = 128,
                    bands: Int = 32, seed: Long = graft.operators.Dedup.DefaultSeed): Unit = {
    require(numHashes % bands == 0,
      s"numHashes=$numHashes must be divisible by bands=$bands (must match the query half)")
    docs.select(
        col(idCol).as("doc_id"),
        minhashSignature(wordShingles(col(textCol), shingleSize), numHashes, seed).as("sig"))
      .write.mode("append").parquet(s"$indexPath/sigs")
  }

  /** Seeded random hyperplanes for cosine LSH, baked as plan literals. */
  def randomPlanes(nPlanes: Int, dim: Int, seed: Long = graft.operators.Dedup.DefaultSeed): Seq[Seq[Double]] = {
    val rng = new Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Sentinel `nPlanes` value meaning "derive the hyperplane key depth
    * from the corpus" — the DEFAULT for every hyperplane-bucketed
    * operator ([[graft.operators.Similarity.knnGraph]],
    * [[embeddingNearDups]], [[embeddingDecontaminate]]). The r11 30×
    * scale curve measured why a fixed default is a scale trap: at a
    * pinned depth the candidate stage is density-quadratic BELOW the
    * bucket cap (Σ m² grows as n²/2^depth while every bucket stays
    * under the cap, so the cap never engages) — the same corpus built
    * 16× faster at depth 12 than at depth 8. Pin an explicit positive
    * depth to reproduce a fixed constant family (the oracle queries
    * do); leave the default to get a depth that tracks corpus size.
    */
  val AutoPlanes: Int = 0

  /** Hyperplane key-depth cap: 62 sign bits must fit a long bucket
    * key, and 2^30 keys/table already exceeds any real verify budget.
    */
  val MaxPlanes: Int = 30

  /** Scale-safe hyperplane key depth for a corpus of `n` vectors: the
    * smallest depth that keeps EXPECTED bucket occupancy n / 2^depth
    * at or under `targetOccupancy`, floored at the operator's
    * recall-motivated `minPlanes` and capped at [[MaxPlanes]]. Exact
    * integer arithmetic (ceil-division + ceil-log2 via
    * numberOfLeadingZeros), so the derived depth — and therefore the
    * plane literals and every downstream bucket — is bit-deterministic
    * in (n, minPlanes, targetOccupancy) on any JVM.
    *
    * targetOccupancy = 16 is calibrated on the r11 curve: 60k vectors
    * derive depth 12 (the measured 16×-faster point vs the old fixed
    * 8), the 500-vector oracle corpora derive under the floor (so
    * auto = minPlanes = the committed constants), and 10⁹ vectors
    * derive 26 — expected per-bucket work stays O(targetOccupancy²)
    * per table regardless of corpus size, with `nTables` multi-probe
    * carrying recall.
    */
  def derivedPlanes(n: Long, minPlanes: Int, targetOccupancy: Int = 16): Int = {
    require(minPlanes >= 1 && minPlanes <= MaxPlanes,
      s"minPlanes must be in [1, $MaxPlanes], got $minPlanes")
    require(targetOccupancy >= 1, s"targetOccupancy must be positive, got $targetOccupancy")
    val buckets = if (n <= 0) 1L else (n + targetOccupancy - 1) / targetOccupancy
    val needed =
      if (buckets <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1) // ceil(log2)
    math.min(MaxPlanes, math.max(minPlanes, needed))
  }

  /** Resolve a caller-supplied `nPlanes` ([[AutoPlanes]] = derive from
    * one cheap corpus `count()`; positive = pinned) — shared by every
    * hyperplane operator so the auto policy cannot drift between them.
    * The count is the only extra job and reads no vector bytes beyond
    * parquet row-group metadata when the source supports count pushdown.
    */
  private[operators] def resolvePlanes(nPlanes: Int, corpus: DataFrame, minPlanes: Int): Int = {
    require(nPlanes == AutoPlanes || (nPlanes >= 1 && nPlanes <= MaxPlanes),
      s"nPlanes must be $AutoPlanes (auto) or in [1, $MaxPlanes], got $nPlanes")
    if (nPlanes != AutoPlanes) nPlanes else derivedPlanes(corpus.count(), minPlanes)
  }

  /** Embedding near-dup: bucket by the packed sign-bit signature of
    * `nPlanes` random hyperplanes, then verify candidates with exact
    * cosine. Multi-probe via `nTables` independent plane sets raises
    * recall. Returns (id_a, id_b, cosine) pairs with cosine >= threshold.
    *
    * `nPlanes` defaults to [[AutoPlanes]]: the depth is derived from
    * one cheap corpus count ([[derivedPlanes]], floor 12) so a
    * default-parameter call stays scale-safe — at a FIXED depth the
    * candidate stage grows density-quadratically below the bucket cap
    * (the r11 30× curve). Pin a positive depth to reproduce a fixed
    * constant family.
    */
  def embeddingNearDups(
      df: DataFrame, vecCol: String, idCol: String, dim: Int,
      threshold: Double = 0.95, nPlanes: Int = AutoPlanes, nTables: Int = 4,
      seed: Long = graft.operators.Dedup.DefaultSeed, maxBucketSize: Int = 1000): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val base = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val depth = resolvePlanes(nPlanes, base, minPlanes = 12)
    val planes = (0 until nTables).map(t => randomPlanes(depth, dim, seed + t))
    val keyed = base.withColumn("buckets",
      column(graft.plans.HyperplaneBuckets(expression(col("v")), planes)))
    // Buckets carry ONLY (id, table, key): the explode multiplies rows
    // by nTables, so shuffling the (dim-sized) vectors through it would
    // multiply shuffle bytes nTables×. Vectors rejoin later, once per
    // candidate id, not per bucket row.
    val buckets = keyed.select(col("id"), posexplode(col("buckets")).as(Seq("table", "key")))
    // Duplicate or near-zero vectors all hash to one sign pattern:
    // the bucket cap keeps that skew bomb out of the candidate join.
    val cand = bucketPairs(buckets, Seq("table", "key"), maxBucketSize)
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val vA = base.select(col("id").as("id_a"), col("v").as("v_a"))
    val vB = base.select(col("id").as("id_b"), col("v").as("v_b"))
    cand.join(vA, "id_a").join(vB, "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** EMBEDDING-space benchmark decontamination: drop corpus rows whose
    * embedding-cosine against ANY benchmark/eval row reaches
    * `threshold` — the semantic form of [[minhashDecontaminate]].
    * N-gram methods miss the translated/re-generated/paraphrased eval
    * leaks that share no surface text; this catches anything the
    * embedding model maps near an eval item (the decontamination mode
    * of SemDeDup / DataComp-style pipelines).
    *
    * Shape: both sides bucket with the SAME seeded hyperplane tables
    * as [[embeddingNearDups]] (plan-literal planes, multi-probe over
    * `nTables` tables), joined CROSS-corpus only — corpus buckets vs
    * benchmark buckets, never corpus-vs-corpus. Only slim
    * (id, table, key) rows ride the explode+shuffle; vectors rejoin
    * once per surviving candidate pair for the exact-cosine verify.
    * The bucket cap ([[cappedBuckets]]) applies to the CORPUS side
    * (the benchmark is bounded by the eval suite's size; a degenerate
    * corpus bucket is the m·|bench| candidate bomb). Recall follows the LSH curve over
    * the table count; a missed pair costs recall, never correctness
    * of surviving rows. Returns `corpus` survivors unchanged.
    */
  def embeddingDecontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      vecCol: String, idCol: String, dim: Int,
      threshold: Double = 0.8, nPlanes: Int = AutoPlanes, nTables: Int = 8,
      seed: Long = graft.operators.Dedup.DefaultSeed, maxBucketSize: Int = 1000): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // auto depth sizes to the CORPUS (the side the bucket cap guards
    // and the side that grows to 100 TB); the benchmark is eval-sized
    val depth = resolvePlanes(nPlanes,
      corpus.select(col(idCol)), minPlanes = 8)
    val planes = (0 until nTables).map(t => randomPlanes(depth, dim, seed + t))
    def toBuckets(df: DataFrame, idName: String): DataFrame = df
      .select(col(idCol).as(idName), col(vecCol).cast("array<double>").as("v"))
      .withColumn("buckets",
        column(graft.plans.HyperplaneBuckets(expression(col("v")), planes)))
      .select(col(idName), posexplode(col("buckets")).as(Seq("table", "key")))
    val cb = toBuckets(corpus, "cid")
    val bb = toBuckets(benchmark, "bid")
    val cand = cappedBuckets(cb, Seq("table", "key"), maxBucketSize).join(bb, Seq("table", "key"))
      .select("cid", "bid").dropDuplicates("cid", "bid")
    val vC = corpus.select(col(idCol).as("cid"), col(vecCol).cast("array<double>").as("v_c"))
    val vB = benchmark.select(col(idCol).as("bid"), col(vecCol).cast("array<double>").as("v_b"))
    val contaminated = cand.join(vC, "cid").join(vB, "bid")
      .filter(cosine(col("v_c"), col("v_b")) >= threshold)
      .select(col("cid").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings into k-means cells, compute
    * pairwise cosine ONLY within a cell, and keep one representative
    * (the lowest id) of every semantic-duplicate pair. Returns the
    * SURVIVORS as (id, cell_id).
    *
    * This is the data-adaptive complement to [[embeddingNearDups]]:
    * hyperplane buckets are oblivious to the data distribution, while
    * k-means cells follow it — the published algorithm for trimming
    * web-scale image/text corpora (LAION) by semantic similarity.
    *
    * Scale shape: centroids come from [[Similarity.kmeansCentroids]]
    * (bounded-heap seeded, no corpus shuffle); assignment is a NARROW
    * map with the centroid matrix as a plan literal; the within-cell
    * self-join shuffles only (id, cell_id) and is capped by
    * `maxCellSize` — the [[bucketPairs]] contract of every LSH path
    * here (an over-full cell at 100 TB means nCells is too small; the
    * cap degrades recall, never blows up a task). Vectors rejoin once
    * per candidate pair, not per cell row. With `lloydIters = 0` the
    * whole pipeline is bit-replicable by the DuckDB oracle (same
    * contract as the deterministic IVF top-k).
    */
  def semanticDedup(
      df: DataFrame, vecCol: String, idCol: String,
      nCells: Int = 16, threshold: Double = 0.95,
      lloydIters: Int = 2,
      maxCellSize: Int = 10000): DataFrame = {
    // parameter errors fail BEFORE any Spark job runs (nCells = 0
    // would silently lump the corpus into one phantom cell)
    require(nCells > 0, s"nCells=$nCells must be positive")
    require(maxCellSize > 0, s"maxCellSize=$maxCellSize must be positive")
    require(lloydIters >= 0, s"lloydIters=$lloydIters must be >= 0")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val base = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val cents = Similarity.kmeansCentroids(
      base.select(col("id").as("corpus_id"), col("v").as("cv")),
      nCells, lloydIters)
    val assigned = base.withColumn("cell_id",
      column(graft.plans.NearestCentroid(expression(col("v")), cents.toSeq.map(_.toSeq))))
    // no dropDuplicates here, unlike the multi-table LSH paths: each
    // id lives in exactly ONE cell, so the single-key self-join cannot
    // emit a pair twice — deduping would only add a shuffle over the
    // largest intermediate in the pipeline
    val cand = bucketPairs(assigned.select("id", "cell_id"), Seq("cell_id"), maxCellSize)
      .select("id_a", "id_b")
    val vA = base.select(col("id").as("id_a"), col("v").as("v_a"))
    val vB = base.select(col("id").as("id_b"), col("v").as("v_b"))
    val dupPairs = cand.join(vA, "id_a").join(vB, "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
    // keep-lowest-id: any id that appears as the larger side of a
    // duplicate pair is dropped; its lower partner survives (or is
    // itself dropped by a yet-lower partner — either way one
    // representative of every duplicate chain remains)
    val drops = dupPairs.select(col("id_b").as("id")).distinct()
    assigned.join(drops, Seq("id"), "left_anti").select("id", "cell_id")
  }

  /** Near-dup pairs over a PRECOMPUTED packed-bit signature column —
    * the signature-agnostic core behind every Hamming-space dedup:
    * feed it [[graft.plans.HyperplaneBuckets]] sign bits for
    * embeddings, a perceptual image hash (dHash) for image dedup, or
    * any external 64-bit fingerprint. [[simhashNearDups]] is the
    * text-specific sibling that also OWNS its signature; this one
    * decouples signature production from candidate generation so a
    * signature computed once (e.g. persisted next to the binary
    * payload at ingest) can be reused across dedup runs without
    * re-decoding terabytes of media.
    *
    * Same scale shape as simhash: split the `nBits` signature into
    * `bands` contiguous chunks and equi-join per chunk. For
    * `maxHamming < bands` the result is COMPLETE — two signatures
    * within that distance must agree on ≥1 chunk (pigeonhole). For
    * larger `maxHamming` banding becomes a recall-bounded candidate
    * generator (P[some chunk clean] ≥ 1 − (d/bands)^... computable
    * from the distance d and chunk layout) — the standard operating
    * point when the duplicate radius exceeds the band count and an
    * exact guarantee would need degenerate chunk widths. Buckets over
    * `maxBucketSize` are dropped ([[bucketPairs]] — a million
    * identical images must not become a 10^12-pair task), candidates
    * verify with `bit_count(xor)`, and only (id, band, key) rows ever
    * shuffle.
    */
  def hammingNearDups(
      df: DataFrame, sigCol: String, idCol: String,
      nBits: Int, bands: Int = 4, maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    require(nBits >= 1 && nBits <= 64, s"nBits=$nBits must be 1..64")
    require(bands >= 1 && nBits % bands == 0,
      s"nBits=$nBits must be divisible by bands=$bands (equal-width chunks)")
    require(maxHamming >= 0 && maxHamming <= nBits,
      s"maxHamming=$maxHamming outside [0, $nBits]")
    val chunkBits = nBits / bands
    val chunkMask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    val withSig = df.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
      .filter(col("sig").isNotNull) // undecodable media ⇒ no signature ⇒ not a candidate
    val keyed = withSig.select(col("id"), col("sig"),
      explode(array((0 until bands).map { j =>
        struct(lit(j).as("band"),
          shiftrightunsigned(col("sig"), j * chunkBits).bitwiseAND(lit(chunkMask)).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.key"))
    bucketPairs(keyed, Seq("band", "key"), maxBucketSize)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Verify-threshold advisor — the missing dial next to
    * [[minhashBandProfile]] (candidate work) and
    * [[minhashRecallProfile]] (banding recall): the HISTOGRAM of exact
    * Jaccard over the capped LSH candidate pairs, i.e. where the
    * corpus' similarity mass actually sits. Real corpora are bimodal
    * (a near-1.0 duplicate mode and a low-overlap background); the
    * valley between them is the defensible `threshold`, and this
    * measures it instead of assuming 0.7. Runs the identical
    * signature/banding/cap chain as [[minhashNearDups]] with the
    * verify threshold OPEN (0.0), then bins the verified scores.
    *
    * Scale shape: exactly one [[minhashNearDups]] pass (same capped
    * candidate volume, same slim shuffles) plus a ≤ `bins`-row rollup;
    * the share windows run on that tiny table. Determinism: jaccard is
    * an integer-ratio double and binning/share are fixed-shape
    * arithmetic on it.
    */
  def jaccardThresholdProfile(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      seed: Long = graft.operators.Dedup.DefaultSeed, maxBucketSize: Int = 1000,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    val rd = graft.functions.MathFunctions.roundTo _
    val pairs = minhashNearDups(df, textCol, idCol, shingleSize, numHashes,
      bands, threshold = 0.0, seed, maxBucketSize)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    pairs.select(least(floor(col("jaccard") * lit(bins)).cast("int"),
        lit(bins - 1)).as("bin"))
      .groupBy("bin").agg(count("*").as("n_pairs"))
      .select(col("bin"),
        (col("bin").cast("double") / lit(bins.toDouble)).as("lo"),
        ((col("bin").cast("double") + lit(1.0)) / lit(bins.toDouble)).as("hi"),
        col("n_pairs"),
        rd(col("n_pairs").cast("double") /
          sum("n_pairs").over(w).cast("double"), 6).as("share"))
      .orderBy("bin")
  }

  /** Sorted-neighborhood near-dup pairs (the merge/purge blocking
    * family, Hernández & Stolfo 1995) — the third candidate-generation
    * strategy next to MinHash banding and hyperplane buckets: sort the
    * corpus by a blocking key (here the first `keyLen` chars of the
    * normalized text), slide a `window`-row neighborhood down the
    * sorted order, and exact-Jaccard-verify only rank-adjacent pairs.
    * Catches the prefix-similar duplicates a banding scheme can miss
    * when edits concentrate late in the document, and its candidate
    * volume is EXACTLY n·(window−1) pairs — no bucket-skew tail at
    * all, so no cap parameter to tune.
    *
    * Scale shape: the global order costs ONE range exchange (the same
    * exchange any distributed sort pays) and ranks come from
    * `zipWithIndex` over the range-partitioned frame — partition p's
    * keys all precede partition p+1's, so partition-index numbering IS
    * the global (key, id) rank, with no single-partition window
    * anywhere. The neighborhood join is a pure equi-join: row at rank
    * r posts to buckets {r div w, r div w + 1} on one side and
    * {r div w} on the other, and any pair at rank distance 1..w−1
    * spans at most adjacent buckets, so each candidate matches exactly
    * once. The row's shingle array rides that shuffle as payload and
    * the exact Jaccard is computed inside the join — re-joining
    * arrays onto the pair frontier afterwards sorted pair-count ×
    * array rows and was 98% of the x100 wall (r14, see
    * [[sortedNeighborhoodNearDupsMultiKey]]); only slim scored triples shuffle
    * after the pass.
    *
    * Determinism: rank order is (key, id) with a unique id, and the
    * key is the HEX form of the normalized prefix's UTF-8 bytes —
    * pure ASCII on any input, so the sort ORDER is byte-portable:
    * Spark's UTF8 binary sort and an oracle engine's default collation
    * order the hex strings identically (hex string order ≡ byte order
    * of the original prefix). Caveat (ADVICE r13): the key CONTENT
    * still goes through each engine's `substring`, which Spark counts
    * in code points while some engines count grapheme clusters — a
    * prefix boundary falling inside a combining sequence could select
    * different bytes per engine. [[normalizeText]]'s lowercase +
    * whitespace-collapse does not strip combining marks, so the
    * portability claim is exact for ASCII/NFC-without-combining-suffix
    * corpora and best-effort beyond that; the engine's own results are
    * deterministic for any input either way.
    * Jaccard is an integer-ratio double. Returns (id_a, id_b,
    * jaccard) with id_a < id_b (ids are least/greatest-normalized:
    * rank order and id order can disagree). Note: the rank is
    * materialized via `zipWithIndex`, which runs one eager job at
    * call time.
    */
  def sortedNeighborhoodNearDups(
      df: DataFrame, textCol: String, idCol: String,
      window: Int = 10, keyLen: Int = 24, shingleSize: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    require(keyLen >= 1, s"keyLen=$keyLen must be >= 1")
    sortedNeighborhoodNearDupsMultiKey(df, textCol, idCol,
      Seq(hex(substring(normalizeText(col(textCol)), 1, keyLen))),
      window, shingleSize, threshold)
  }

  /** Multi-pass sorted-neighborhood near-dup pairs — the classic
    * merge/purge deployment (Hernández & Stolfo 1995 run their method
    * with SEVERAL independent blocking keys and union the results): a
    * single pass misses duplicate pairs whose edits hit the blocking
    * key itself (a prefix key cannot neighbor two documents that
    * differ in their first words, however identical the rest). Each
    * `keyExprs` entry drives one independent rank-and-window pass;
    * each pass scores its pairs with exact Jaccard inside the
    * neighborhood join, and the surviving pairs union across passes
    * and deduplicate, so a pair blocked by k passes is emitted once.
    *
    * The default two-pass configuration ([[sortedNeighborhoodMultiPass]])
    * pairs the normalized-prefix key with the REVERSED-text prefix
    * (i.e. the suffix read backwards): edits concentrated early in the
    * document leave the suffix key intact and vice versa, so the two
    * passes cover each other's blind spot.
    *
    * Scale shape: per pass, exactly the single-pass plan — one range
    * exchange over (id, key, shingles) rows, zipWithIndex rank,
    * bucket equi-join with candidate volume EXACTLY n·(window−1),
    * scored in place — then the threshold filter and one cross-pass
    * distinct over the SURVIVING slim (id_a, id_b, jaccard) triples
    * (the only post-pass shuffle). Total candidate volume is
    * ≤ k·n·(window−1): still linear in n, still no skew tail, no cap
    * to tune.
    *
    * r14 redesign (the knn r13 lesson applied to the SNM family):
    * the r13 shape deduped SLIM pairs first and then re-joined the
    * pair frontier with the fat shingle arrays twice to verify.
    * SNM_PROFILE_r14 localized 98% of the x100 tail (201 of 206 s)
    * in exactly those verify joins — a SortMergeJoin sorting ~9M
    * pair×array rows spilled 13.8 GB memory / 5.6 GB disk in one
    * 32-thread JVM, while candidates + distinct together cost 4.7 s
    * with ZERO spill. Now the shingle arrays ride the RANK rows as
    * shuffle payload (computed once in the scan projection) and the
    * exact-Jaccard verify happens INSIDE the neighborhood bucket
    * join; only (id_a, id_b, jaccard) triples ever cross a shuffle
    * afterwards, and the threshold filter runs BEFORE the cross-pass
    * distinct so the one remaining exchange carries only surviving
    * pairs (25.6k of 9M candidates at the x100 point). Fat-row
    * traffic drops from 2·|pairs| join-sorted rows to ≤ 4·n
    * straight-through rows per pass, and nothing fat is ever sorted
    * by pair count.
    *
    * Key expressions should be engine-portable ASCII (wrap prefixes in
    * `hex(...)` — see [[sortedNeighborhoodNearDups]]'s determinism
    * note). Returns (id_a, id_b, jaccard), id_a < id_b, each pair once.
    */
  def sortedNeighborhoodNearDupsMultiKey(
      df: DataFrame, textCol: String, idCol: String,
      keyExprs: Seq[Column], window: Int = 10, shingleSize: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    require(window >= 2, s"window=$window must be >= 2 (a 1-row neighborhood has no pairs)")
    require(keyExprs.nonEmpty, "at least one blocking-key expression is required")
    val spark = df.sparkSession
    val w = window.toLong
    // One rank-and-window pass: global (skey, id) rank without a
    // global window — range-exchange orders the partitions,
    // sortWithinPartitions orders the rows, zipWithIndex numbers them
    // in partition-index order (partition p's keys all precede
    // partition p+1's). Row at rank r posts to buckets
    // {r div w, r div w + 1} on one side and {r div w} on the other:
    // any pair at rank distance 1..w−1 spans at most adjacent buckets
    // and matches exactly once — and is SCORED right here, while both
    // rows' shingle arrays are in hand.
    def passScored(keyExpr: Column): DataFrame = {
      val ordered = df.select(col(idCol).as("id"), keyExpr.as("skey"),
          wordShingles(col(textCol), shingleSize).as("shingles"))
        .repartitionByRange(col("skey"), col("id"))
        .sortWithinPartitions("skey", "id")
      val schema = org.apache.spark.sql.types.StructType(
        ordered.schema.fields :+ org.apache.spark.sql.types.StructField(
          "rnk", org.apache.spark.sql.types.LongType, nullable = false))
      val ranked = spark.createDataFrame(
        ordered.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
        schema)
      val bkt = {
        import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
        column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          expression(col("rnk")), expression(lit(w.toLong))))
      }
      val aSide = ranked.select(col("id").as("id_x"), col("rnk").as("rnk_x"),
        col("shingles").as("sh_x"),
        explode(array(bkt, bkt + lit(1L))).as("bucket"))
      val bSide = ranked.select(col("id").as("id_y"), col("rnk").as("rnk_y"),
        col("shingles").as("sh_y"), bkt.as("bucket"))
      aSide.join(bSide, "bucket")
        .filter(col("rnk_y") - col("rnk_x") >= 1L &&
          col("rnk_y") - col("rnk_x") <= lit(w - 1))
        .withColumn("inter", size(array_intersect(col("sh_x"), col("sh_y"))).cast("double"))
        .withColumn("uni", size(array_union(col("sh_x"), col("sh_y"))).cast("double"))
        .select(least(col("id_x"), col("id_y")).as("id_a"),
          greatest(col("id_x"), col("id_y")).as("id_b"),
          (col("inter") / col("uni")).as("jaccard"))
    }
    // Each pass's rank assignment (RDD zipWithIndex) launches an eager
    // partition-count job at CONSTRUCTION; the passes are independent,
    // so build them concurrently (guide §2.6, r15) — the count jobs
    // overlap and each one's range exchange is in flight while the
    // other's tail finishes. The pass chains themselves stay lazy.
    val passes = Graphs.inParallelSeq(keyExprs.map(k => () => passScored(k)))
    val candUnion = passes.reduce(_.unionByName(_))
    // Threshold BEFORE the cross-pass dedup: only surviving pairs
    // reach the one cross-pass shuffle. A pair blocked by k passes
    // scores the IDENTICAL IEEE double in each (same two arrays,
    // same expression — integer set sizes divided), so it survives
    // or dies in every pass alike and the distinct stays
    // deterministic; duplicated scoring work is bounded by the
    // cross-pass duplicate rate (0.2% of candidates at the x100
    // profile point) — noise against the join traffic it replaces.
    // The distinct runs even for a single pass (whose pairs are
    // already unique): a keys-only aggregate over the tiny surviving
    // set costs nothing and keeps one code path.
    candUnion.filter(col("jaccard") >= threshold).distinct()
  }

  /** Two-pass [[sortedNeighborhoodNearDupsMultiKey]] with the default
    * complementary key pair: hex(prefix of normalized text) and
    * hex(prefix of REVERSED normalized text). See the multi-key
    * scaladoc for why one pass is not enough.
    */
  def sortedNeighborhoodMultiPass(
      df: DataFrame, textCol: String, idCol: String,
      window: Int = 10, keyLen: Int = 24, shingleSize: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    require(keyLen >= 1, s"keyLen=$keyLen must be >= 1")
    val norm = normalizeText(col(textCol))
    sortedNeighborhoodNearDupsMultiKey(df, textCol, idCol,
      Seq(hex(substring(norm, 1, keyLen)),
        hex(substring(reverse(norm), 1, keyLen))),
      window, shingleSize, threshold)
  }
}
