package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query
  *    set against the corpus; one corpus scan, no corpus shuffle.
  *  - [[ivfTopK]]        — IVF-style scale path: partition the corpus
  *    into cells around k-means centroids; probe only `nProbe` cells
  *    per query, scanning ~nProbe/nCells of the corpus.
  *
  * Scale design: the corpus never self-joins and never shuffles.
  * Brute force is O(|Q|·|C|) compute but a single pass over C (the
  * |Q| side is broadcast). IVF centroid training is sampled seeding
  * (bounded-heap top-k over a hash — no global sort, no count()) plus
  * Lloyd rounds whose per-round cost is one narrow corpus map
  * ([[graft.plans.NearestCentroid]] with the centroid matrix as a plan
  * literal) and a (cell,dim)-sized partial-aggregated shuffle. Top-k
  * per query uses a bounded-heap aggregate — the shuffle key is
  * query_id, so it scales with queries, not corpus.
  */
object Similarity {

  /** Turn a scored pair frame into per-query top-k via the bounded
    * -heap aggregate ([[graft.plans.TopKByScore]]): map-side partial
    * top-k means the shuffle carries ≤ k·partitions rows per query —
    * NOT the full scored set, which is what a Window+row_number plan
    * would shuffle and sort. Order (score desc, id asc) is identical
    * to the window formulation, bit-for-bit.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.plans.TopKByScore.topKByScore(col("cosine"), col("corpus_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("query_id"), col("t.id").as("corpus_id"),
              col("t.score").as("cosine"), (col("r") + 1).as("rank"))

  /** Exact top-k by cosine: every (query, corpus) pair scored, k best
    * kept per query. `queries` must be small enough to broadcast.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("corpus_id"), cosine(col("qv"), col("cv")).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** The portable id hash behind every deterministic seed and sample:
    * `pmod(pmod(id, 1000003) · seedMul, 2^31−1)` — integer arithmetic
    * any engine reproduces exactly (intermediates < 2^52, ANSI-safe),
    * so a DuckDB oracle re-derives the same seed set.
    */
  private[graft] def seedHash(id: Column): Column =
    pmod(pmod(id, lit(1000003L)) * lit(graft.config.PortableSalt.seedMul), lit(2147483647L))

  /** The `n` values of `df`'s `idCol` with the largest [[seedHash]]
    * (ties to the smaller id), as a one-column frame named `name` —
    * the bounded-heap top-n aggregate: map-side partial top-n, the
    * shuffle carries ≤ n rows per partition. No `count()` over the
    * corpus, no single-partition `Window.orderBy`.
    */
  private[graft] def seedIds(df: DataFrame, idCol: String, n: Int, name: String): DataFrame =
    df.agg(graft.plans.TopKByScore.topKByScore(
        seedHash(col(idCol)).cast("double"), col(idCol), n).as("top"))
      .select(explode(col("top.id")).as(name))

  /** The rows of `base` (which must carry `id`) whose id is one of the
    * `n` [[seedIds]], with that id repeated as `query_id`: the
    * deterministic query sample of the recall profiles. */
  private[graft] def seedSample(base: DataFrame, n: Int): DataFrame =
    base.join(broadcast(seedIds(base, "id", n, "query_id")), col("id") === col("query_id"))

  /** k-means centroids without any full-corpus shuffle or global sort:
    *
    *  1. SEED — the `nCells` corpus rows of [[seedIds]] (a
    *     deterministic pseudo-random sample).
    *  2. LLOYD rounds — assignment is a narrow map (the centroid
    *     matrix is a plan literal inside [[graft.plans.NearestCentroid]]);
    *     the new means come from a posexplode + partial-aggregated
    *     avg keyed by (cell, dim): the shuffle is O(cells·dim·parts),
    *     independent of corpus size. Empty cells keep their previous
    *     centroid.
    */
  def kmeansCentroids(c: DataFrame, nCells: Int, lloydIters: Int = 2): Array[Array[Double]] = {
    val ids = seedIds(c, "corpus_id", nCells, "id").collect().map(_.getLong(0))
    // Fetch the seed rows via a broadcast semi-join on a 1-column
    // frame: an `isin(ids…)` literal IN-list would put all nCells ids
    // in the plan text, bloating plan size/compile time at large
    // nCells; the join keeps the plan O(1) regardless of cell count.
    val spark = c.sparkSession
    import spark.implicits._
    val seedDf = ids.toSeq.toDF("corpus_id")
    var cents: Array[Array[Double]] = c
      .join(broadcast(seedDf), Seq("corpus_id"), "left_semi")
      .orderBy("corpus_id")  // tiny frame (nCells rows): determinism only
      .select("cv").collect()
      .map(_.getSeq[Double](0).toArray)

    for (_ <- 1 to lloydIters) {
      val assigned = c.withColumn("cell_id",
        column(graft.plans.NearestCentroid(expression(col("cv")), cents.toSeq.map(_.toSeq))))
      val means = assigned
        .select(col("cell_id"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy("cell_id", "pos").agg(avg("x").as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      cents = next
    }
    cents
  }

  /** Distributed Lloyd's k-means with a fully PORTABLE arithmetic
    * contract — the clustering primitive behind corpus partitioning,
    * diversity sampling, and SemDeDup cells, exposed end-to-end:
    * seeds → `iters` assignment/update rounds → final (id, cell,
    * inertia) assignment, every round bit-replicable by another
    * engine.
    *
    * Portability: coordinates quantize to 1e-6 integers up front, so
    * centroid updates are EXACT integer sums (summation-order-immune
    * under any partitioning/retry) over a per-(cell, dim) count; the
    * centroid itself is the one IEEE division sum/n of two exactly-
    * representable integers, and assignment distances are fixed-order
    * sequential folds ([[graft.plans.NearestCentroid]], first-minimum
    * tie-break = lowest cell). |sum| stays < 2^53 up to ~10^9 rows
    * per cell at unit-normalized inputs; beyond that the division's
    * rounding is still deterministic for a fixed partitioning-
    * independent integer sum, so the contract degrades gracefully.
    *
    * Scale shape: seeding is the bounded-heap hash top-k (no corpus
    * sort); each round is ONE narrow assignment map (centroid matrix
    * is a plan literal) plus a (cells·dim)-keyed partial-aggregated
    * sum — the shuffle is O(cells·dim·partitions), independent of
    * corpus size; the driver only ever holds cells·dim longs.
    */
  def kmeansAssign(df: DataFrame, vecCol: String, idCol: String,
                   nCells: Int, iters: Int = 3): DataFrame = {
    require(nCells > 0, s"nCells=$nCells must be positive")
    require(iters >= 0, s"iters=$iters must be >= 0")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).as("id"),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as("q"))
      .withColumn("qd", col("q").cast("array<double>"))
    var cents: Array[Array[Double]] = seededCentroids(base, nCells)
    for (_ <- 1 to iters) {
      val assigned = base.withColumn("cell",
        column(graft.plans.NearestCentroid(expression(col("qd")), cents.toSeq.map(_.toSeq))))
      val stats = assigned.select(col("cell"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(sum("x").as("s"), count("*").as("n"))
        .collect()
      // empty cells keep their previous centroid (no row touches them)
      val next = cents.map(_.clone())
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getLong(2).toDouble / r.getLong(3).toDouble
      }
      cents = next
    }
    val centsSeq = cents.toSeq.map(_.toSeq)
    val assigned = base.withColumn("cell_id",
      column(graft.plans.NearestCentroid(expression(col("qd")), centsSeq)))
    // inertia to the OWN cell's centroid: same sequential fold as the
    // assignment, selected by a nCells-branch CASE over plan literals
    var distCol: org.apache.spark.sql.Column = lit(null).cast("double")
    for (c <- cents.indices) {
      val centLit = array(cents(c).map(lit): _*)
      distCol = when(col("cell_id") === c,
        column(graft.plans.SquaredDistance(
          expression(col("qd")), expression(centLit)))).otherwise(distCol)
    }
    assigned.select(col("id").as(idCol), col("cell_id"),
      graft.functions.MathFunctions.roundTo(distCol / lit(1e12), 6).as("dist"))
  }

  /** The [[kmeansCentroids]] seeds (no Lloyd rounds) of a `base`
    * carrying (id, qd): the quantized coordinates of the `nCells`
    * [[seedIds]] rows — `nCells · dim` doubles on the driver, never
    * data-sized. */
  private def seededCentroids(base: DataFrame, nCells: Int): Array[Array[Double]] =
    kmeansCentroids(base.select(col("id").as("corpus_id"), col("qd").as("cv")), nCells, lloydIters = 0)

  /** Greedy k-center selection (farthest-first traversal) — the
    * coreset / diversity-selection primitive: pick `k` corpus points
    * such that every point is close to some pick (2-approximation of
    * the optimal k-center cover, the standard bound for this greedy).
    * The data-selection use: choose maximally-diverse exemplars for
    * fine-tuning budgets or cluster seeding, where random sampling
    * over-represents dense regions.
    *
    * Determinism/portability: coordinates quantize to 1e-6 integers,
    * squared distances are exact integer sums (< 2^53 for unit-norm
    * 64-dim inputs, so the doubles are exact), the seed is the
    * [[kmeansAssign]] hash rule, and every argmax tie-breaks to the
    * smallest id via `max(struct(dist, -id, vec))` — an external
    * engine unrolling the same k stages reproduces every pick.
    *
    * Scale shape: inherently k sequential passes (each pick depends
    * on all previous); each pass is ONE narrow plan-literal distance
    * map + ONE all-to-one max-struct aggregation over the PERSISTED
    * slim (id, qd) frame — the corpus is read from storage once, no
    * shuffles wider than the single aggregation row, and the driver
    * holds k·dim doubles. The running min-distance column is a
    * codegen'd `least` chain, never a join.
    *
    * Returns k rows (sel_rank, id, radius): `radius` is the point's
    * min squared distance (unit coords, 6 dp) to the PREVIOUS picks
    * at selection time — a non-increasing sequence whose last entry
    * bounds the (k−1)-cover; NULL for the seed.
    */
  def kcenterSelect(df: DataFrame, vecCol: String, idCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).as("id"),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as("q"))
      .withColumn("qd", col("q").cast("array<double>"))
      .select("id", "qd")
      .persist()
    def pick(scoreCol: org.apache.spark.sql.Column,
        from: DataFrame): (Long, Seq[Double], Double) = {
      val r = from
        .agg(max(struct(scoreCol.as("s"), (-col("id")).as("nid"), col("qd").as("v"))).as("m"))
        .select(col("m.s"), col("m.nid"), col("m.v")).collect()(0)
      (-r.getLong(1), r.getSeq[Double](2), r.getDouble(0))
    }
    val (seedId, seedVec, _) = pick(seedHash(col("id")).cast("double"), base)
    val picks = mutable.ArrayBuffer[(Int, Long, Option[Double])]()
    picks += ((0, seedId, None))
    var cur = base.withColumn("md",
      column(graft.plans.SquaredDistance(expression(col("qd")),
        expression(array(seedVec.map(lit): _*)))))
    for (r <- 1 until k) {
      val (id, vec, md) = pick(col("md"), cur)
      picks += ((r, id, Some(md)))
      if (r < k - 1)
        cur = cur.withColumn("md", least(col("md"),
          column(graft.plans.SquaredDistance(expression(col("qd")),
            expression(array(vec.map(lit): _*))))))
    }
    base.unpersist()
    // radius back to unit coordinates (quantized 1e-6 each axis → 1e12
    // in the squared sum), same floor-form quantum as every oracle
    picks.toSeq.map { case (r, id, md) =>
      (r, id, md.map(d => math.floor(d / 1e12 * 1e6 + 0.5) / 1e6))
    }.toDF("sel_rank", "id", "radius")
      .select(col("sel_rank"), col("id").as(idCol), col("radius"))
  }

  /** Embedding-distribution drift between two corpus snapshots — the
    * train/serve-skew monitor for retrieval and embedding models: a
    * new crawl batch whose vectors pile into different regions of the
    * space than the corpus they'll join is a model-refresh signal no
    * per-value PSI ([[Sketches.psiMatrix]]) can see, because the shift
    * lives in the joint geometry, not any scalar column.
    *
    * Method: every vector is assigned to its nearest of `nCells`
    * deterministic hash-seeded centroids (the [[kmeansAssign]] seed
    * rule and the same fixed-order [[graft.plans.NearestCentroid]]
    * fold, so an external engine replays assignments bit-for-bit);
    * the two snapshots' cell histograms are compared with the
    * standard +1-smoothed PSI, per-cell terms quantized to 1e-6 and
    * summed as exact integers — engine-portable, partitioning-immune.
    *
    * Scale shape: ONE narrow assignment pass (the centroid matrix is
    * a plan literal) and one map-side-combined groupBy(cell) whose
    * output is ≤ `nCells` rows; everything downstream (grid join,
    * totals, PSI) is cell-count-sized with the totals broadcast as a
    * one-row cross-join. The corpus never shuffles.
    *
    * Returns one row per cell (including empty ones):
    * (cell_id, n_base, n_new, psi_term, psi) — `psi` is the corpus
    * total, repeated per row so the frame is self-contained.
    */
  def embeddingDrift(df: DataFrame, vecCol: String, idCol: String,
      baseCol: String, nCells: Int = 8): DataFrame = {
    require(nCells > 0, s"nCells=$nCells must be positive")
    val spark = df.sparkSession
    val rd = graft.functions.MathFunctions.roundTo _
    val base = df.select(col(idCol).as("id"),
      col(baseCol).cast("boolean").as("is_base"),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as("q"))
      .withColumn("qd", col("q").cast("array<double>"))
    val cents = seededCentroids(base, nCells)
    val counts = base
      .withColumn("cell_id",
        column(graft.plans.NearestCentroid(expression(col("qd")), cents.toSeq.map(_.toSeq))))
      .groupBy("cell_id")
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_base"), 0L).otherwise(1L)).as("n_new"))
    // full cell grid so empty cells still contribute their smoothed term
    val grid = spark.range(nCells).select(col("id").cast("int").as("cell_id"))
    val filled = grid.join(broadcast(counts), Seq("cell_id"), "left")
      .select(col("cell_id"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val tot = filled.agg(sum("n_base").as("tot_base"), sum("n_new").as("tot_new"))
    val nc = lit(nCells.toLong)
    val pA = (col("n_base") + lit(1L)).cast("double") / (col("tot_base") + nc).cast("double")
    val pB = (col("n_new") + lit(1L)).cast("double") / (col("tot_new") + nc).cast("double")
    val termQ = floor((pA - pB) * log(pA / pB) * lit(1e6) + lit(0.5)).cast("long")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    filled.crossJoin(broadcast(tot)) // one scalar row
      .withColumn("__tq", termQ)
      // single-partition window over the nCells-row grid only
      .select(col("cell_id"), col("n_base"), col("n_new"),
        rd(col("__tq").cast("double") / lit(1e6), 6).as("psi_term"),
        rd(sum(col("__tq")).over(wAll).cast("double") / lit(1e6), 6).as("psi"))
  }

  /** Per-cluster simplified silhouette over the deterministic
    * hash-seeded centroids (the [[kmeansAssign]] seed rule): for each
    * vector, a = squared distance to its assigned (nearest) centroid
    * and b = squared distance to the runner-up centroid; the
    * silhouette s = (b − a) / b ∈ [0, 1) measures how decisively the
    * point belongs to its cell (0 = on the boundary between two
    * cells). Averaged per cell, this is the cluster-quality monitor
    * that tells a curation pipeline whether its embedding cells are
    * real structure or arbitrary partitions — the geometry companion
    * to [[embeddingDrift]]'s occupancy histogram.
    *
    * Deviation from the textbook: classic silhouette uses mean
    * pairwise distances (O(n²)) and euclidean metric; this uses the
    * centroid proxy (the standard "simplified silhouette") and keeps
    * SQUARED distances — a monotone transform that preserves the
    * assignment and the boundary-vs-core ordering while keeping every
    * intermediate an exact integer (1e-6-quantized coordinates, exact
    * integer squared sums < 2^53). Because assignment is argmin,
    * a ≤ b always, so max(a, b) = b and s never goes negative.
    *
    * Determinism: per-row s quantizes to a 1e-6 integer before the
    * sum; the per-cell mean is one IEEE division of exact longs,
    * re-quantized at 1e-6 — an external engine replaying the seed
    * rule reproduces every bit. A point equidistant from two
    * centroids (b = a) scores 0; a degenerate b = 0 (duplicate
    * centroids) scores 0 rather than 0/0.
    *
    * Scale shape: the centroid matrix is a plan literal, so the scan
    * is ONE narrow codegen'd pass (nCells squared-distance folds +
    * one array_sort of an nCells-long array per row); the only
    * shuffle is the map-side-combined groupBy(cell) whose output is
    * ≤ nCells rows. The corpus never shuffles. Returns one row per
    * cell (empty cells included, null mean):
    * (cell_id, n_points, mean_silhouette).
    */
  def silhouette(df: DataFrame, vecCol: String, idCol: String,
      nCells: Int = 8): DataFrame = {
    require(nCells >= 2, s"nCells=$nCells must be >= 2 (silhouette needs a runner-up)")
    val spark = df.sparkSession
    val rd = graft.functions.MathFunctions.roundTo _
    val base = df.select(col(idCol).as("id"),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as("q"))
      .withColumn("qd", col("q").cast("array<double>"))
      .select("id", "qd")
    val cents = seededCentroids(base, nCells)
    val dists = array(cents.map(c =>
      column(graft.plans.SquaredDistance(expression(col("qd")),
        expression(array(c.map(lit): _*))))): _*)
    val silQ = {
      val a = element_at(col("__sorted"), 1)
      val b = element_at(col("__sorted"), 2)
      when(b > lit(0.0),
        floor((b - a) / b * lit(1e6) + lit(0.5)).cast("long"))
        .otherwise(lit(0L))
    }
    val counts = base
      .withColumn("cell_id",
        column(graft.plans.NearestCentroid(expression(col("qd")), cents.toSeq.map(_.toSeq))))
      .withColumn("__sorted", array_sort(dists))
      .withColumn("__sq", silQ)
      .groupBy("cell_id")
      .agg(count("*").as("n_points"), sum("__sq").as("__sum_q"))
    // full cell grid so empty cells still appear (null mean)
    val grid = spark.range(nCells).select(col("id").cast("int").as("cell_id"))
    grid.join(broadcast(counts), Seq("cell_id"), "left")
      .select(col("cell_id"),
        coalesce(col("n_points"), lit(0L)).as("n_points"),
        rd(col("__sum_q").cast("double") / col("n_points").cast("double") / lit(1e6), 6)
          .as("mean_silhouette"))
      .orderBy("cell_id")
  }

  /** ANN self-evaluation: recall@k of the IVF index against the exact
    * brute-force top-k on the SAME query set — the QA loop every
    * vector-search deployment runs before trusting its approximate
    * index (a probe setting that silently drops recall from 0.98 to
    * 0.6 is invisible without this). Returns one row per query:
    * (query_id, k, n_overlap, recall) where n_overlap counts the
    * exact top-k ids the IVF result also returned and
    * recall = n_overlap ÷ k.
    *
    * Uses the deterministic IVF variant (portable-hash seed cells,
    * lloydIters = 0) so the whole evaluation — both arms — is
    * bit-replicable by an external engine; the k-means production
    * path keeps its separate recall gate in DedupSpec.
    *
    * Scale shape: composes the two audited ANN plans (corpus never
    * shuffles in either; queries broadcast) plus ONE query-keyed
    * left join of two k·|Q|-row frames and a map-side combined
    * count — every post-ANN row set is queries-sized, never
    * corpus-sized. Recall is one IEEE division of exact longs,
    * 1e-6-quantized.
    */
  def recallEval(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val rd = graft.functions.MathFunctions.roundTo _
    val exact = bruteForceTopK(corpus, queries, vecCol, idCol, k)
      .select(col("query_id"), col("corpus_id"))
    // the approx arm is ≤ k·|queries| slim rows by construction —
    // broadcast it so the overlap join never sorts the exact arm
    val approx = broadcast(
      ivfTopK(corpus, queries, vecCol, idCol, k,
          nCells = nCells, nProbe = nProbe, lloydIters = 0)
        .select(col("query_id").as("__qi"), col("corpus_id").as("__ci")))
    exact.join(approx,
        col("query_id") === col("__qi") && col("corpus_id") === col("__ci"),
        "left")
      .groupBy("query_id")
      .agg(count(col("__ci")).as("n_overlap"))
      .select(col("query_id"), lit(k).as("k"), col("n_overlap"),
        rd(col("n_overlap").cast("double") / lit(k.toDouble), 6).as("recall"))
      .orderBy("query_id")
  }

  /** Per-dimension embedding health: mean, sample variance, min and
    * max of every coordinate plus a `dead` flag (a dimension whose
    * min equals its max carries zero information — the classic
    * symptom of a truncated export or an untrained projection row).
    * The cheap per-axis rollup next to [[covarianceMatrix]]'s full
    * matrix: 64 rows a dashboard can watch, not 64×64.
    *
    * Determinism/portability: coordinates quantize to 1e-6 integers;
    * per-dimension sums and squared sums accumulate as decimal(38,0)
    * with the square taken AFTER the decimal cast, so arbitrary
    * coordinate magnitudes never wrap a LONG (exact at 10⁹ rows;
    * DuckDB HUGEINT mirrors them); mean and
    * variance are single fixed-shape IEEE divisions, 1e-6-quantized;
    * `dead` compares exact longs. Variance is null when n < 2.
    *
    * Scale shape: ONE narrow corpus scan into a single global
    * aggregate row (4·dim map-side combined aggregates — the corpus
    * never shuffles; the only exchange carries one partial row per
    * task), then a driver-free inline unpivot of that row into `dim`
    * output rows.
    */
  def dimsHealth(df: DataFrame, vecCol: String, dim: Int = 64): DataFrame = {
    require(dim >= 1, s"dim=$dim must be >= 1")
    val rd = graft.functions.MathFunctions.roundTo _
    val dec = "decimal(38,0)"
    val base = df.select(transform(col(vecCol).cast("array<double>"),
      x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as("q"))
    def qd(d: Int) = element_at(col("q"), d + 1)
    val aggs = count("*").as("__n") +: (0 until dim).flatMap(d => Seq(
      sum(qd(d).cast(dec)).as(s"__s$d"),
      // decimal BEFORE multiply (the regularity pattern): a LONG
      // square wraps silently past |coord| ≈ 3.0e3 (q² ≥ 2⁶³)
      sum(qd(d).cast(dec) * qd(d).cast(dec)).as(s"__q$d"),
      min(qd(d)).as(s"__lo$d"),
      max(qd(d)).as(s"__hi$d")))
    val m = base.agg(aggs.head, aggs.tail: _*)
    val nD = col("__n").cast("double")
    val rows = (0 until dim).map { d =>
      val s = col(s"__s$d"); val q = col(s"__q$d")
      struct(lit(d).as("dim"),
        rd(s.cast("double") / nD / lit(1e6), 6).as("mean"),
        when(col("__n") >= 2L,
          rd((col("__n").cast(dec) * q - s * s).cast("double") /
            (nD * (nD - 1.0)) / lit(1e12), 6)).as("variance"),
        rd(col(s"__lo$d").cast("double") / lit(1e6), 6).as("min_val"),
        rd(col(s"__hi$d").cast("double") / lit(1e6), 6).as("max_val"),
        (col(s"__lo$d") === col(s"__hi$d")).as("dead"))
    }
    m.select(explode(array(rows: _*)).as("r"))
      .select(col("r.dim"), col("r.mean"), col("r.variance"),
        col("r.min_val"), col("r.max_val"), col("r.dead"))
      .orderBy("dim")
  }

  /** Diagonal-Mahalanobis out-of-distribution score per vector: the
    * label-free "does this embedding belong to this corpus" gate a
    * curation pipeline runs before mixing a new source in —
    * `ood = Σ_d (x_d − μ_d)² / σ²_d` with per-dimension corpus mean
    * and sample variance (the diagonal whitening of the full
    * Mahalanobis form; [[covarianceMatrix]] holds the dense moments if
    * a caller wants the full quadratic). Complements [[labelOutliers]]
    * (which needs labels) and [[embeddingDrift]] (which compares two
    * corpora): this scores each ROW against its own corpus, so the
    * high scorers are the mislabeled / corrupted / off-domain rows to
    * audit first.
    *
    * Determinism (the [[dimsHealth]] arithmetic): coordinates quantize
    * to 1e-6 longs, per-dim Σq and Σq² accumulate as decimal(38,0)
    * (exact on any engine; HUGEINT on the oracle side), and each
    * dimension's term is one fixed-shape IEEE expression
    * `dec→double((n·q−S)²) · (n−1) / (n · dec→double(n·Q−S²))` — the
    * 1e6 scale cancels between numerator and variance, so no rescale.
    * The 64 terms fold in a fixed left-to-right order. Dead dimensions
    * (zero variance) contribute 0 rather than ±inf.
    *
    * Scale shape: two narrow corpus scans — one map-side-combined
    * global aggregate producing a SINGLE stats row (2·dim+1 columns),
    * then a scoring scan with that row cross-joined (a one-row
    * broadcast, the rfm precedent). Nothing data-sized ever shuffles.
    */
  def oodScore(df: DataFrame, vecCol: String, idCol: String, dim: Int = 64): DataFrame = {
    require(dim >= 1, s"dim=$dim must be >= 1")
    val rd = graft.functions.MathFunctions.roundTo _
    val dec = "decimal(38,0)"
    val base = df.select(col(idCol).as("id"),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as("q"))
    def qd(d: Int) = element_at(col("q"), d + 1)
    val aggs = count("*").as("__n") +: (0 until dim).flatMap(d => Seq(
      sum(qd(d).cast(dec)).as(s"__s$d"),
      // decimal BEFORE multiply: a long square wraps past |coord| ≈ 3e3
      sum(qd(d).cast(dec) * qd(d).cast(dec)).as(s"__q$d")))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val nDec = col("__n").cast(dec)
    val nD = col("__n").cast("double")
    val terms = (0 until dim).map { d =>
      val s = col(s"__s$d"); val qq = col(s"__q$d")
      val dev = nDec * qd(d).cast(dec) - s
      val den = (nDec * qq - s * s).cast("double")
      when(den === 0.0, lit(0.0))
        .otherwise((dev * dev).cast("double") * (nD - lit(1.0)) / (nD * den))
    }
    base.crossJoin(stats)
      .select(col("id").as(idCol), rd(terms.reduceLeft(_ + _), 6).as("ood"))
  }

  /** EXACT corpus diversity in one linear pass: the mean pairwise
    * squared euclidean distance over all n·(n−1) ordered vector pairs
    * — the scalar that distinguishes "10⁹ diverse embeddings" from
    * "10⁹ copies of the same point" — computed WITHOUT forming any
    * pair, via the moment identity
    * Σᵢⱼ‖xᵢ−xⱼ‖² = 2n·Σᵢ‖xᵢ‖² − 2‖Σᵢxᵢ‖².
    * An O(n²) semantic at O(n·d) cost; the companion scalars
    * (mean squared norm, squared centroid norm) decompose it:
    * mean_pairwise = 2·(mean_sq_norm − centroid_sq_norm). Returns ONE
    * row: (n_vectors, mean_sq_norm, centroid_sq_norm,
    * mean_pairwise_sqdist) — the last null when n < 2.
    *
    * Determinism/portability: coordinates quantize to 1e-6 integers;
    * per-row ‖x‖² is an exact long fold (< 2⁵³ for unit-scale 64-dim
    * inputs); the corpus sums accumulate as decimal(38,0) — Σ‖x‖²
    * overflows a LONG near 10⁵ rows and the squared per-dimension
    * sums near 10⁴, but stay < 10³² at 10⁹ rows, inside both Spark's
    * decimal(38,0) and DuckDB's HUGEINT — so every integer is exact
    * on both engines and the three output ratios are single
    * fixed-shape IEEE divisions, 1e-6-quantized.
    *
    * Scale shape: ONE narrow corpus scan (a codegen'd long fold and
    * `dim` element_at sums, all map-side combined into a single
    * global-aggregate row). The corpus never shuffles — the only
    * exchange carries one partial row per task.
    */
  def embeddingDiversity(df: DataFrame, vecCol: String, dim: Int = 64): DataFrame = {
    require(dim >= 1, s"dim=$dim must be >= 1")
    val rd = graft.functions.MathFunctions.roundTo _
    val dec = "decimal(38,0)"
    val base = df.select(transform(col(vecCol).cast("array<double>"),
      x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as("q"))
    val sqNorm = aggregate(col("q"), lit(0L), (acc, x) => acc + x * x)
    val aggs = sum(sqNorm.cast(dec)).as("__s2") +: count("*").as("__n") +:
      (0 until dim).map(d => sum(element_at(col("q"), d + 1).cast(dec)).as(s"__d$d"))
    val m = base.agg(aggs.head, aggs.tail: _*)
    // ‖Σx‖² in exact decimal: `dim` squared per-dimension sums
    val t = (0 until dim).map(d => col(s"__d$d") * col(s"__d$d")).reduce(_ + _)
    val nD = col("__n").cast("double")
    m.select(col("__n").as("n_vectors"),
        rd(col("__s2").cast("double") / nD / lit(1e12), 6).as("mean_sq_norm"),
        rd(t.cast("double") / (nD * nD) / lit(1e12), 6).as("centroid_sq_norm"),
        when(col("__n") >= 2L,
          rd((col("__n").cast(dec) * col("__s2") * 2 - t * 2).cast("double") /
            (nD * (nD - 1.0)) / lit(1e12), 6)).as("mean_pairwise_sqdist"))
  }

  /** Exact sample covariance matrix of the embedding dimensions — the
    * moment pass behind PCA/whitening/feature-correlation analysis —
    * from ONE corpus scan via the augmented-moment trick: append a
    * constant 1 to the (1e-6-quantized) vector, and the single
    * upper-triangle product-sum table contains ALL the moments
    * (P[i][d] = Σ q_i is the mean numerator, P[d][d] = n is the row
    * count). Sums are exact DECIMAL(38,0) integers — summation-order-
    * immune under any partitioning — and each covariance is a fixed-
    * shape IEEE expression over them, so another engine replays every
    * output bit.
    *
    * Scale shape: ONE aggregation buffer per partition accumulates
    * every triangle cell in a tight primitive loop
    * ([[graft.plans.MomentMatrix]] — signed 128-bit cells, no per-row
    * explode), so the scan is a single narrow pass and the shuffle
    * carries one 16-byte cell per (i, j, partition) regardless of
    * corpus size; the joins that assemble cov(i,j) run on the
    * d²-row moment table. Returns (dim_i, dim_j, cov) for i ≤ j.
    *
    * Contract: every input row must carry a non-null vector of exactly
    * `dim` elements — a null or length-mismatched row fails the query
    * (the one-buffer moment pass has no per-row skip path; pre-filter
    * upstream if the corpus is dirty). Fewer than 2 valid rows returns
    * an EMPTY frame (sample covariance needs n ≥ 2), never NaN rows.
    */
  def covarianceMatrix(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val q = transform(col(vecCol).cast("array<double>"),
      x => floor(x * lit(1e6) + lit(0.5)).cast("long"))
    val qe = concat(q, array(lit(1L)))
    // ALL (d+1)(d+2)/2 upper-triangle product sums in ONE aggregation
    // buffer per partition ([[graft.plans.MomentMatrix]]): signed
    // 128-bit cells (so even max-magnitude 63-bit products cannot
    // overflow — the earlier long-product explode relied on an input
    // magnitude contract, and a decimal-product variant benchmarked
    // 25× slower), map-side combined, nothing exploded per row. The
    // triangle only unfolds AFTER aggregation — 2 145 rows out of the
    // single result row at d = 64, a driver-scale frame the
    // downstream assembly joins broadcast.
    val moments = df.select(qe.as("__qe"))
      .agg(graft.plans.MomentMatrix.momentMatrix(col("__qe"), dim + 1).as("__m"))
      .select(explode(col("__m")).as("p"))
      .select(col("p.i"), col("p.j"), col("p.s").as("s"))
    val n = moments.filter(col("i") === dim && col("j") === dim)
      .select(col("s").cast("double").as("__n"))
    val means = moments.filter(col("j") === dim && col("i") < dim)
      .select(col("i").as("__mi"), col("s").cast("double").as("__s"))
    moments.filter(col("j") < dim)
      .join(broadcast(means).withColumnRenamed("__mi", "i").withColumnRenamed("__s", "__si"), "i")
      .join(broadcast(means).withColumnRenamed("__mi", "j").withColumnRenamed("__s", "__sj"), "j")
      .crossJoin(broadcast(n))
      // a no-groupBy TypedImperativeAggregate emits its zero buffer
      // even on empty input — without this fence an empty corpus
      // would surface as d(d+1)/2 NaN rows (0/0) instead of an empty
      // frame, and n = 1 as ±Infinity (division by n-1 = 0)
      .filter(col("__n") >= 2)
      .select(col("i").as("dim_i"), col("j").as("dim_j"),
        graft.functions.MathFunctions.roundTo(
          (col("s").cast("double") - col("__si") * col("__sj") / col("__n")) /
            (col("__n") - lit(1.0)) / lit(1e12), 6).as("cov"))
  }

  /** Product-quantization ANN (Jégou et al. 2011): the 100 TB memory
    * path. The corpus is ENCODED once into `m` small codes per vector
    * (64 doubles → 8 ints here: the scan that feeds every query reads
    * ~64× fewer bytes), then queries score candidates with asymmetric
    * distance computation (ADC) against the codebook — approximate
    * squared L2, smallest first.
    *
    * Scale design: codebook training reuses the sampled seeding of
    * [[kmeansCentroids]] (bounded-heap top-k, no corpus shuffle);
    * encode and ADC are NARROW maps with the codebook as a plan
    * literal ([[graft.plans.PqEncode]] / [[graft.plans.PqAdcScore]]);
    * per-query top-k is the bounded-heap aggregate, so the shuffle
    * carries ≤ k·partitions rows per query. The corpus itself never
    * shuffles and never joins.
    */
  /** `rerank > 0` adds the standard PQ two-stage shape: an ADC
    * shortlist of `rerank` candidates per query, then EXACT re-ranking
    * of just the shortlist (a broadcast join back to the corpus rows —
    * |Q|·rerank rows, so the corpus still never shuffles). ADC recall
    * at 32 bits/vector is coarse by construction (~0.2 measured at
    * k=10); the shortlist+rerank form is what production PQ deploys.
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      m: Int = 8, ksub: Int = 16, lloydIters: Int = 2,
      rerank: Int = 0): DataFrame = {
    // parameter errors fail BEFORE any Spark job runs (m = 0 would
    // otherwise surface as '/ by zero' after the seeding job)
    require(m > 0 && ksub > 0 && k > 0, s"m=$m, ksub=$ksub, k=$k must all be positive")
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    // Codebook: ksub sampled corpus rows, then per-subspace Lloyd
    // refinement (the quality-critical step of PQ — raw seed rows
    // measured recall@10 ≈ 0.14 on the synthetic corpus, refined ≥
    // several-fold better). lloydIters = 0 keeps the deterministic
    // seed-only codebook the DuckDB oracle replicates.
    val seed = kmeansCentroids(c, ksub, lloydIters = 0)
    require(seed.isEmpty || seed(0).length % m == 0,
      s"PQ subspace count m=$m must divide the embedding dim ${seed.headOption.fold(0)(_.length)} " +
      "(integer truncation would silently drop trailing dimensions and break code indexing)")
    val cb = pqRefine(c, seed, m, lloydIters).toSeq.map(_.toSeq)
    val encoded = c
      .withColumn("codes", column(graft.plans.PqEncode(expression(col("cv")), cb, m)))
      .select("corpus_id", "codes") // the compressed representation
    val scored = encoded.crossJoin(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        column(graft.plans.PqAdcScore(expression(col("qv")), expression(col("codes")), cb, m))
          .as("d"))
    // bounded heap keeps the k SMALLEST distances: score by -d, the
    // (score desc, id asc) heap order is then (d asc, id asc)
    def adcTopK(n: Int): DataFrame = scored.groupBy("query_id")
      .agg(graft.plans.TopKByScore.topKByScore(-col("d"), col("corpus_id"), n).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("query_id"), col("t.id").as("corpus_id"),
              (-col("t.score")).as("approx_sqdist"), (col("r") + 1).as("rank"))
    if (rerank <= 0) adcTopK(k)
    else {
      // exact re-rank of the ADC shortlist: the shortlist (|Q|·rerank
      // rows) broadcasts back onto the corpus — only matching rows
      // survive the broadcast hash join, the corpus never shuffles
      val shortlist = adcTopK(math.max(rerank, k)).select("query_id", "corpus_id")
      val exact = c.join(broadcast(shortlist), "corpus_id")
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("corpus_id"), sqDist(col("qv"), col("cv")).as("d"))
      exact.groupBy("query_id")
        .agg(graft.plans.TopKByScore.topKByScore(-col("d"), col("corpus_id"), k).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("r", "t")))
        .select(col("query_id"), col("t.id").as("corpus_id"),
                (-col("t.score")).as("sqdist"), (col("r") + 1).as("rank"))
    }
  }

  /** Per-subspace Lloyd refinement of a PQ codebook: assignment is the
    * NARROW [[graft.plans.PqEncode]] map (codebook as plan literal);
    * new codewords come from one (dim-position, code)-keyed
    * partial-aggregated avg — the shuffle is O(dim·ksub·partitions),
    * independent of corpus size, exactly the IVF-means pattern. Cells
    * with no members keep their previous codeword.
    */
  private def pqRefine(c: DataFrame, cb0: Array[Array[Double]], m: Int,
                       iters: Int): Array[Array[Double]] = {
    var cb = cb0
    if (iters > 0 && cb.nonEmpty) {
      val dsub = cb(0).length / m
      for (_ <- 1 to iters) {
        val assigned = c.withColumn("codes",
          column(graft.plans.PqEncode(expression(col("cv")), cb.toSeq.map(_.toSeq), m)))
        val means = assigned
          .select(col("codes"), posexplode(col("cv")).as(Seq("pos", "x")))
          .withColumn("code", element_at(col("codes"), (col("pos") / dsub).cast("int") + 1))
          .groupBy("pos", "code").agg(avg("x").as("mean"))
          .collect()
        val next = cb.map(_.clone())
        means.foreach { r => next(r.getInt(1))(r.getInt(0)) = r.getDouble(2) }
        cb = next
      }
    }
    cb
  }

  /** IVF (inverted-file) ANN with k-means-trained centroids. Corpus
    * vectors are assigned to their nearest centroid with a narrow map;
    * each query probes its `nProbe` nearest cells; only probed cells
    * are scored (broadcast hash join on cell_id — still no corpus
    * shuffle).
    */
  /** PQ distortion advisor — the codebook-quality pre-flight next to
    * [[lshBucketProfile]] (candidate work) and [[lshRecallProfile]]
    * (recall): before spending a cluster pass ENCODING 10⁹ vectors at
    * a given PQ geometry, measure what each subspace count costs in
    * reconstruction error. For every candidate `m` (subspace count,
    * shared `ksub`-row seed codebook — the deterministic lloydIters=0
    * book the [[pqTopK]] oracle replays), one corpus pass computes the
    * exact mean per-vector quantization error
    * `Σ_s min_j ‖x_sub − c_{s,j}‖²` and its ratio to the corpus'
    * total squared norm — the "how much signal survives at
    * m·log₂(ksub) bits/vector" curve, measured on the corpus instead
    * of assumed.
    *
    * Determinism: per-row distortions and norms are fixed-shape
    * sequential IEEE folds over the plan-literal codebook (the ADC
    * arithmetic), quantized to 1e-6 longs per ROW before the corpus
    * sum accumulates as decimal(38,0) — exact in any partitioning;
    * `mse` and `rel_mse` are single fixed-shape divisions.
    *
    * Scale shape: ONE narrow corpus scan scores every candidate m
    * simultaneously (the codebook is a literal; nothing joins), all
    * sums map-side combined into a single global-aggregate row —
    * the corpus never shuffles. Seeding is the bounded-heap hash
    * top-k, one tiny job, shared across all m.
    */
  def pqDistortionProfile(
      df: DataFrame, vecCol: String, idCol: String, dim: Int = 64,
      ms: Seq[Int] = Seq(2, 4, 8, 16), ksub: Int = 16): DataFrame = {
    require(ms.nonEmpty && ms.forall(m => m > 0 && dim % m == 0),
      s"every subspace count in $ms must be positive and divide dim=$dim")
    require(ksub >= 2, s"ksub=$ksub must be >= 2")
    val rd = graft.functions.MathFunctions.roundTo _
    val dec = "decimal(38,0)"
    val c = df.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val seed = kmeansCentroids(c, ksub, lloydIters = 0)
    require(seed.nonEmpty, "pqDistortionProfile needs a non-empty corpus")
    val cbLit = array(seed.toSeq.map(v => array(v.toSeq.map(lit): _*)): _*)
    // per-subspace distortion: min over the ksub candidates of the
    // fixed-order squared-distance fold (the ADC shape); `cv` is a
    // bound attribute so lambda capture re-reads, never re-computes
    def subDist(s: Int, subLen: Int) = array_min(transform(cbLit, cent =>
      aggregate(sequence(lit(1), lit(subLen)), lit(0.0), (a, i) => {
        val idx = lit(s * subLen) + i
        val d = element_at(col("cv"), idx) - element_at(cent, idx)
        a + d * d
      })))
    val distCols = ms.map { m =>
      val subLen = dim / m
      floor((0 until m).map(s => subDist(s, subLen)).reduceLeft(_ + _) *
        lit(1e6) + lit(0.5)).cast("long").as(s"__d$m")
    }
    val normCol = floor(aggregate(sequence(lit(1), lit(dim)), lit(0.0), (a, i) => {
        val x = element_at(col("cv"), i); a + x * x
      }) * lit(1e6) + lit(0.5)).cast("long").as("__norm")
    val per = c.select(distCols :+ normCol: _*)
    val aggs = count("*").as("__n") +: sum(col("__norm").cast(dec)).as("__sn") +:
      ms.map(m => sum(col(s"__d$m").cast(dec)).as(s"__s$m"))
    val bits = 32 - Integer.numberOfLeadingZeros(ksub - 1) // ceil log2
    val rows = ms.map { m =>
      struct(lit(m).as("m"), lit(ksub).as("ksub"),
        lit(m * bits).as("bits_per_vec"),
        rd(col(s"__s$m").cast("double") / col("__n").cast("double") / lit(1e6), 6).as("mse"),
        when(col("__sn") > lit(0L),
          rd(col(s"__s$m").cast("double") / col("__sn").cast("double"), 6)).as("rel_mse"))
    }
    per.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.m"), col("r.ksub"), col("r.bits_per_vec"),
        col("r.mse"), col("r.rel_mse"))
      .orderBy("m")
  }

  /** IVF probe advisor — the third leg of the ANN sizing toolkit
    * ([[lshRecallProfile]] sizes LSH key depth, [[pqDistortionProfile]]
    * sizes PQ bits, this sizes `nProbe`): for every candidate probe
    * count, the EXACT scan work (corpus rows touched across the
    * sampled queries) and recall@k against exact-cosine ground truth —
    * the scan-fraction-vs-recall curve measured on the corpus before
    * an [[ivfTopK]] deployment picks its operating point.
    *
    * Scale shape: ONE corpus pass scores every probe depth — cells
    * partition the corpus, so each (query, corpus row) pair carries
    * exactly one probe rank, and all per-depth counters roll up in a
    * single map-side-combined aggregate over that pass. Sample, probe
    * ranks (Q·nCells rows) and truth (Q·k rows) all broadcast; the
    * corpus never shuffles. Seeding/assignment reuse the portable
    * [[ivfTopK]] lloydIters=0 chain, so a DuckDB oracle replays every
    * double bit-for-bit.
    */
  def ivfProbeProfile(
      df: DataFrame, vecCol: String, idCol: String, dim: Int = 64,
      probes: Seq[Int] = Seq(1, 2, 4, 8), nCells: Int = 16, k: Int = 10,
      sampleQ: Int = 8): DataFrame = {
    require(probes.nonEmpty && probes.forall(p => p >= 1 && p <= nCells),
      s"every probe count in $probes must be in [1, nCells=$nCells]")
    require(k >= 1 && sampleQ >= 1, s"k=$k and sampleQ=$sampleQ must be positive")
    val rd = graft.functions.MathFunctions.roundTo _
    val base = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val c = base.select(col("id").as("corpus_id"), col("v").as("cv"))
    val cents = kmeansCentroids(c, nCells, lloydIters = 0)
    require(cents.nonEmpty, "ivfProbeProfile needs a non-empty corpus")
    val assigned = base.withColumn("cell_id",
      column(graft.plans.NearestCentroid(expression(col("v")), cents.toSeq.map(_.toSeq))))
    // deterministic portable sample + exact ground truth: the
    // lshRecallProfile chain (hash top-Q, bounded-heap exact top-k)
    val sample = CheckpointBridge.localCheckpointFreshStats(
      seedSample(base, sampleQ).select(col("query_id"), col("v").as("qv")))
    val truth = CheckpointBridge.localCheckpointFreshStats(
      base.crossJoin(broadcast(sample))
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("corpus_id"),
          cosine(col("qv"), col("v")).as("c"))
        .groupBy("query_id")
        .agg(graft.plans.TopKByScore.topKByScore(col("c"), col("corpus_id"), k).as("top"))
        .select(col("query_id"), explode(col("top.id")).as("corpus_id")))
    val truthN = truth.agg(count(lit(1)).as("truth_n"))
    val qN = sample.agg(count(lit(1)).as("qn"))
    val cN = base.agg(count(lit(1)).as("cn"))
    val spark = df.sparkSession
    import spark.implicits._
    val centroidsDf = cents.zipWithIndex
      .map { case (v0, i) => (i, v0.toSeq) }.toSeq.toDF("cell_id", "centroid")
    val wq = Window.partitionBy("query_id").orderBy(col("d").asc, col("cell_id").asc)
    val probeRank = sample.crossJoin(broadcast(centroidsDf))
      .select(col("query_id"), col("cell_id"), sqDist(col("qv"), col("centroid")).as("d"))
      .withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= probes.max)
      .select("query_id", "cell_id", "pr")
    // truth arrives as a stats-less checkpoint RDD — broadcast it so
    // the hit flag never falls back to a sort-merge join
    val truthM = truth.withColumn("__t", lit(1L))
    val flagged = assigned.join(broadcast(probeRank), Seq("cell_id"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("corpus_id"), col("pr"))
      .join(broadcast(truthM), Seq("query_id", "corpus_id"), "left")
    val aggs = probes.flatMap(p => Seq(
      sum(when(col("pr") <= p, 1L).otherwise(0L)).as(s"__sc$p"),
      sum(when(col("pr") <= p && col("__t").isNotNull, 1L).otherwise(0L)).as(s"__h$p")))
    val g = flagged.agg(aggs.head, aggs.tail: _*)
      .crossJoin(truthN).crossJoin(qN).crossJoin(cN)
    val rows = probes.map { p =>
      val sc = coalesce(col(s"__sc$p"), lit(0L))
      val h = coalesce(col(s"__h$p"), lit(0L))
      struct(lit(p).as("n_probe"), sc.as("scanned_rows"), h.as("hits"),
        col("truth_n"),
        when(col("truth_n") === 0L, lit(1.0))
          .otherwise(rd(h.cast("double") / col("truth_n").cast("double"), 6))
          .as("recall_at_k"),
        when(col("qn") * col("cn") === 0L, lit(0.0))
          .otherwise(rd(sc.cast("double") /
            (col("qn").cast("double") * col("cn").cast("double")), 6))
          .as("scanned_frac"))
    }
    g.select(explode(array(rows: _*)).as("r"))
      .select(col("r.n_probe"), col("r.scanned_rows"), col("r.hits"),
        col("r.truth_n"), col("r.recall_at_k"), col("r.scanned_frac"))
      .orderBy("n_probe")
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      lloydIters: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))

    // lloydIters = 0: centroids are exact corpus rows picked by the
    // portable hash — every downstream double (sqdist, argmin, cosine)
    // is a sequential fold over exact parquet values, so the whole
    // query is bit-replicable in a DuckDB oracle. The k-means default
    // trades that for better cells (recall-tested).
    val cents = kmeansCentroids(c, nCells, lloydIters)
    val centsSeq = cents.toSeq.map(_.toSeq)

    // Narrow assignment: one int column, no join, no shuffle.
    val assigned = c.withColumn("cell_id",
      column(graft.plans.NearestCentroid(expression(col("cv")), centsSeq)))

    // Each query probes its nProbe nearest cells. The centroid frame is
    // driver-built (nCells rows) — broadcast by construction.
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroidsDf = cents.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("cell_id", "centroid")
    val wq = Window.partitionBy("query_id").orderBy(col("d").asc, col("cell_id").asc)
    val probes = q.crossJoin(broadcast(centroidsDf))
      .select(col("query_id"), col("qv"), col("cell_id"), sqDist(col("qv"), col("centroid")).as("d"))
      .withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= nProbe)
      .select("query_id", "qv", "cell_id")

    // Score only within probed cells.
    val scored = assigned.join(broadcast(probes), "cell_id")
      .select(col("query_id"), col("corpus_id"), cosine(col("qv"), col("cv")).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Binary-signature ANN: compress each embedding to `nBits` packed
    * sign bits of seeded random hyperplanes (the SimHash-for-vectors
    * trick), then rank corpus rows per query by Hamming distance —
    * `bit_count(xor)` over two longs, so the scoring pass touches 8
    * bytes per corpus row instead of `dim × 8`. The standard
    * memory-bound re-ranking primitive when even PQ codes are too
    * wide; recall comes from the sign-bit LSH property (P[bit match]
    * = 1 − angle/π).
    *
    * Scale shape mirrors [[bruteForceTopK]]: signatures are a narrow
    * map (planes are plan literals), queries broadcast, and per-query
    * top-k uses the bounded-heap aggregate — the corpus never
    * shuffles. Ordering (hamming asc, corpus_id asc) is exactly the
    * window formulation, bit-for-bit, via score = nBits − hamming.
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame,
                  vecCol: String, idCol: String, dim: Int, k: Int,
                  nBits: Int = 48, seed: Long = graft.operators.Dedup.DefaultSeed): DataFrame = {
    require(nBits >= 1 && nBits <= 62, s"nBits=$nBits must fit a positive long")
    val planes = Seq(Dedup.randomPlanes(nBits, dim, seed))
    def sig(df: DataFrame, outId: String, outSig: String): DataFrame =
      df.select(col(idCol).as(outId),
        element_at(column(graft.plans.HyperplaneBuckets(
          expression(col(vecCol).cast("array<double>")), planes)), 1).as(outSig))
    val c = sig(corpus, "corpus_id", "cs")
    val q = sig(queries, "query_id", "qs")
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        (lit(nBits.toDouble) - bit_count(col("qs").bitwiseXOR(col("cs"))).cast(DoubleType))
          .as("score"))
    scored.groupBy("query_id")
      .agg(graft.plans.TopKByScore.topKByScore(col("score"), col("corpus_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("query_id"), col("t.id").as("corpus_id"),
        (lit(nBits) - col("t.score")).cast("int").as("hamming"), (col("r") + 1).as("rank"))
  }

  /** Per-label centroid outliers — the noisy-label / mislabeled-sample
    * pruning primitive (Confident-Learning / CLIP-score-filter family):
    * for every label, the `k` members whose embeddings are LEAST
    * cosine-similar to their own label's centroid.
    *
    * Engine-portable by construction: embedding components are
    * quantized to integers (1e-6 resolution) BEFORE the centroid sum,
    * so the per-(label,dim) aggregate is an exact integer sum — immune
    * to float summation order across partitions — and cosine against
    * the INTEGER sum vector equals cosine against the mean (cosine is
    * scale-invariant, so the ÷n never happens and never rounds).
    *
    * Scale shape: one map-side-combined (label,dim)-keyed aggregate
    * (output rows = labels × dims, config-sized), centroids broadcast
    * back, then the bounded-heap per-label top-k — the corpus never
    * self-joins, never shuffles full vectors, and no window sorts a
    * label's full membership. Integer sums stay exact while
    * n_label · 2^20 < 2^53 (≈8·10^9 rows per label at unit-scale
    * embeddings) — beyond that, raise the quantization step.
    */
  def labelOutliers(df: DataFrame, vecCol: String, idCol: String,
                    labelCol: String, k: Int = 10): DataFrame = {
    val qv = transform(col(vecCol).cast("array<double>"),
      x => floor(x * lit(1e6) + lit(0.5)).cast("long"))
    val q = df.select(col(idCol).as("vec_id"), col(labelCol).as("label"), qv.as("__qv"))
    val comp = q.select(col("label"), posexplode(col("__qv")).as(Seq("__dim", "__c")))
    val sums = comp.groupBy("label", "__dim").agg(sum("__c").as("__s"))
    val cent = sums.groupBy("label").agg(
      transform(array_sort(collect_list(struct(col("__dim"), col("__s")))),
        s => s.getField("__s").cast("double")).as("__cv"))
    val scored = q.join(broadcast(cent), Seq("label"))
      .select(col("label"), col("vec_id"),
        cosine(transform(col("__qv"), x => x.cast("double")), col("__cv")).as("__c"))
    // bounded heap on score = −cosine: (−c desc, id asc) ≡ the
    // (c asc, id asc) window formulation, bit-for-bit
    scored.groupBy("label")
      .agg(graft.plans.TopKByScore.topKByScore(-col("__c"), col("vec_id"), k).as("top"))
      .select(col("label"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("label"), col("t.id").as("vec_id"),
        graft.functions.MathFunctions.roundTo(-col("t.score"), 6).as("cosine"),
        (col("r") + 1).as("rank"))
  }

  /** Approximate k-NN GRAPH over the corpus — every vector's `k`
    * nearest neighbors among candidates that share a hyperplane-LSH
    * bucket in any of `nTables` tables. The building block of
    * graph-based curation: SemDeDup-style duplicate neighborhoods,
    * diversity sampling, label propagation, connected-component
    * grouping over the neighbor edges.
    *
    * This is [[graft.operators.Dedup.embeddingNearDups]]'s bucketing
    * turned DIRECTED (each node collects its own neighbor list, no
    * threshold) with a bounded per-node top-k instead of a pair
    * filter — and unlike the ANN queries there is no query set: the
    * corpus IS both sides, which is exactly when the no-self-join
    * discipline matters most.
    *
    * Returns (src_id, rank, nbr_id, cosine): each vector's neighbors
    * ranked 1..k by (exact cosine desc, nbr_id asc), the cosine
    * [[graft.functions.MathFunctions.roundTo]] 6 digits. Buckets of
    * more than `maxBucketSize` members yield no candidates (the m²
    * edge bomb of a degenerate bucket). Built and materialized by one
    * [[KnnKernel]] job (two shuffles, no SQL plan after the input
    * projection); the id column must be integral.
    *
    * KEY DEPTH TRACKS THE CORPUS BY DEFAULT. Candidate work is Σ m²
    * over buckets (m = occupancy): at FIXED key depth it grows
    * quadratically with corpus density until occupancies hit the cap
    * — measured on the 30× curve: the x30 corpus at nPlanes = 8
    * (256 keys/table) profiles Σm² = 144.1M (9× the x10 point's 16.0M
    * for 3× the rows, every bucket still under the 1000 cap) and the
    * build took 30× the x10 wall; the SAME corpus at nPlanes = 12
    * profiles Σm² = 23.8M and builds 16× faster. So `nPlanes` now
    * defaults to [[graft.operators.Dedup.AutoPlanes]]: one cheap
    * corpus count derives the smallest depth keeping expected
    * occupancy n / 2^depth ≤ 16 (floor 8 — the committed constant at
    * oracle scale), i.e. nPlanes ≈ log2(n / 16), capped at 30.
    * Pin an explicit depth to reproduce a fixed constant family;
    * [[lshBucketProfile]] is the one-scan advisor that measures the
    * candidate work of any candidate depth before a big build, and
    * [[lshRecallProfile]] adds the sampled recall@k the extra depth
    * costs.
    */
  def knnGraph(df: DataFrame, vecCol: String, idCol: String, dim: Int,
               k: Int = 10, nPlanes: Int = Dedup.AutoPlanes, nTables: Int = 8,
               seed: Long = graft.operators.Dedup.DefaultSeed, maxBucketSize: Int = 1000): DataFrame = {
    val kernel = new KnnKernel(df, vecCol, idCol, dim, k, nPlanes, nTables, seed, maxBucketSize)
    try kernel.graph() finally kernel.close()
  }

  /** The co-partitioned hyperplane-LSH kernel behind [[knnGraph]] —
    * the embedding-side twin of [[Dedup.MinhashKernel]]. One Catalyst
    * projection (id as long, `v` as `array<double>`, its
    * [[graft.plans.HyperplaneBuckets]]) is read through
    * `queryExecution.toRdd`; after that, two block shuffles under one
    * [[partitioner]]:
    *
    *  - [[buckets]]: each vector rides its `nTables` rows
    *    `((table, key), (id, v))`, uncombined ([[RddKernel.ship]]: a
    *    vector two tables send to one partition is written once per
    *    block), and the reduce side groups a bucket's members in one
    *    task. Vectors ride the n·nTables bucket rows, not the candidate
    *    edges, which outnumber them ~16:1 at AutoPlanes occupancy (at
    *    the 100× point a rejoin-per-edge layout shuffled 11.7 GB
    *    against 0.9 GB of bucket rows);
    *  - [[topK]]: each bucket of at most `maxBucketSize` members scores
    *    its pairs with [[graft.plans.CosineSimilarity.cosine]] (the
    *    expression's own loop, so scores are the identical doubles) and
    *    sends both directed edges into a per-node [[TopK]] set,
    *    combined per target partition before the shuffle
    *    ([[RddKernel.combine]]). A pair found by several tables carries
    *    the identical score, so the set keeps it once.
    *
    * A row with a null vector has no buckets; a row with a null id
    * counts toward its buckets' sizes but never pairs; equal ids never
    * pair. [[graph]] materializes the result in one job.
    */
  private[graft] final class KnnKernel(df: DataFrame, vecCol: String, idCol: String, dim: Int,
      k: Int, nPlanes: Int, nTables: Int, seed: Long, maxBucketSize: Int)
      extends RddKernel(df, idCol, "The kNN graph") {
    require(k >= 1, s"k must be positive, got $k")

    private val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    private val planes = {
      val depth = Dedup.resolvePlanes(nPlanes, base, minPlanes = 8)
      (0 until nTables).map(t => Dedup.randomPlanes(depth, dim, seed + t))
    }

    /** (table, key) → the bucket's members. */
    private[graft] lazy val buckets: RDD[((Int, Long), Members)] = {
      val cap = maxBucketSize
      ship(base.withColumn("keys", column(graft.plans.HyperplaneBuckets(expression(col("v")), planes)))
        .queryExecution.toRdd
        .flatMap { row =>
          if (row.isNullAt(1)) Iterator.empty
          else {
            // a null id rides without its vector: it counts, never pairs
            val m = if (row.isNullAt(0)) (0L, null) else (row.getLong(0), row.getArray(1).copy())
            val keys = row.getArray(2).toLongArray()
            Iterator.tabulate(keys.length)(t => ((t, keys(t)), m))
          }
        })
        .mapPartitions({ rows =>
          val byKey = mutable.HashMap.empty[(Int, Long), Members]
          rows.foreach { case (key, m) => byKey.getOrElseUpdate(key, new Members(cap)).add(m) }
          byKey.iterator
        }, preservesPartitioning = true)
    }

    /** node id → its best `k` neighbors. */
    private[graft] lazy val topK: RDD[(Long, TopK)] = {
      val n = k
      combine(buckets.flatMap { case (_, b) =>
        val ms = b.pairable.toArray
        ms.indices.iterator.flatMap { i =>
          val (a, va) = ms(i)
          ms.iterator.drop(i + 1).flatMap { case (c, vc) =>
            if (a == c) Iterator.empty
            else {
              val s = graft.plans.CosineSimilarity.cosine(va, vc)
              Iterator((a, (s, c)), (c, (s, a)))
            }
          }
        }
      })((e: (Double, Long)) => new TopK(n).add(e._1, e._2),
        (t: TopK, e: (Double, Long)) => t.add(e._1, e._2), (t: TopK, o: TopK) => t.addAll(o))
    }

    /** (src_id, rank, nbr_id, cosine) rows, materialized (one job). */
    def graph(): DataFrame = {
      val out = idOut
      CheckpointBridge.localCheckpointRows(spark, topK.flatMap { case (src, t) =>
          Iterator.tabulate(t.n)(r => InternalRow(out(src), r + 1, out(t.ids(r)),
            math.floor(t.scores(r) * 1e6 + 0.5).toLong / 1e6)) // MathFunctions.roundTo(_, 6)
        },
        StructType(Seq(idField.copy(name = "src_id"), StructField("rank", IntegerType, nullable = false),
          idField.copy(name = "nbr_id", nullable = false), StructField("cosine", DoubleType))))
    }
  }

  /** A bucket as its rows arrive: `n` rows, and the (id, vector) of
    * every member that can pair — dropped once `n` passes the cap. */
  private[graft] final class Members(cap: Int) extends Serializable {
    var n = 0
    var pairable: List[(Long, ArrayData)] = Nil
    def add(m: (Long, ArrayData)): Members = {
      n += 1
      pairable = if (n > cap) Nil else if (m._2 == null) pairable else m :: pairable
      this
    }
  }

  /** A node's best `k` neighbors so far: a set of (score, id), best
    * first by (score desc, id asc) — [[graft.plans.TopKByScore]]'s
    * order, scores compared as `java.lang.Double.compare` does. */
  private[graft] final class TopK(k: Int) extends Serializable {
    var n = 0
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)

    /** Ordering of (s, id) against entry `i`: > 0 when it ranks before. */
    private def cmp(s: Double, id: Long, i: Int): Int = {
      val c = java.lang.Double.compare(s, scores(i))
      if (c != 0) c else java.lang.Long.compare(ids(i), id)
    }

    def add(s: Double, id: Long): TopK = {
      var p = n // the entries 0 until p rank before (s, id) or equal it
      while (p > 0 && cmp(s, id, p - 1) > 0) p -= 1
      if (p < k && (p == 0 || cmp(s, id, p - 1) != 0)) {
        val last = math.min(n, k - 1)
        System.arraycopy(scores, p, scores, p + 1, last - p)
        System.arraycopy(ids, p, ids, p + 1, last - p)
        scores(p) = s
        ids(p) = id
        n = last + 1
      }
      this
    }

    def addAll(o: TopK): TopK = {
      (0 until o.n).foreach(i => add(o.scores(i), o.ids(i)))
      this
    }
  }

  /** LSH bucket-occupancy profile — the "are my keys deep enough?"
    * advisor for every hyperplane-bucketed operator ([[knnGraph]],
    * [[graft.operators.Dedup.embeddingNearDups]], decontamination):
    * run it BEFORE a big build to see whether the candidate stage
    * will be linear or density-quadratic. Returns one row per table,
    * the [[Dedup.bucketProfile]] rollup:
    * (table, n_buckets, n_vectors, max_occupancy, avg_occupancy,
    * n_over_cap, candidate_pairs) where candidate_pairs =
    * Σ m·(m−1)/2 over buckets with m ≤ `maxBucketSize` — exactly the
    * per-table candidate-join work the build will pay (over-cap
    * buckets are dropped by the build, so they are excluded here and
    * counted in n_over_cap). A profile whose avg_occupancy is within
    * an order of magnitude of the cap means the key space is
    * saturating: deepen `nPlanes` (≈ log2(n / targetOccupancy))
    * before building — the 30× curve measured a 16× build-time
    * difference between nPlanes 8 and 12 on the same corpus.
    *
    * Determinism/portability: bucket keys are the same plan-literal
    * sign bits as the build.
    *
    * Scale shape: ONE corpus scan into slim (id, table, key) rows,
    * one map-side-combined (table, key) count, then a rollup of the
    * ≤ nTables·2^nPlanes-row count table. The corpus never joins.
    */
  def lshBucketProfile(df: DataFrame, vecCol: String, idCol: String, dim: Int,
      nPlanes: Int = Dedup.AutoPlanes, nTables: Int = 8,
      seed: Long = graft.operators.Dedup.DefaultSeed,
      maxBucketSize: Int = 1000): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    // auto profiles the depth a default-parameter build would derive
    val depth = Dedup.resolvePlanes(nPlanes, base, minPlanes = 8)
    val planes = (0 until nTables).map(t => Dedup.randomPlanes(depth, dim, seed + t))
    val keyed = base.withColumn("buckets",
      column(graft.plans.HyperplaneBuckets(expression(col("v")), planes)))
      .select(col("id"), posexplode(col("buckets")).as(Seq("table", "key")))
    Dedup.bucketProfile(keyed, Seq("table", "key"), maxBucketSize, "n_vectors")
      .withColumnRenamed("table", "tbl") // "table" is reserved in SQL oracles
      .orderBy("tbl")
  }

  /** The recall half of the key-depth sizing decision:
    * [[lshBucketProfile]] reports the candidate WORK a depth costs;
    * this reports what the deeper keys give up in RECALL. One row per
    * candidate depth: (n_planes, candidate_pairs, hits, truth_n,
    * recall_at_k) where candidate_pairs is the exact total capped
    * candidate-join work across tables (the build's cost) and
    * recall_at_k is measured on a deterministic `sampleQ`-query
    * sample: |exact top-k ∩ bucket candidates| / |exact top-k|, the
    * fraction of true neighbors the bucketed build can still see.
    * Reading the advisor: pick the deepest row whose recall still
    * clears your target — deeper keys divide candidate_pairs by ~2
    * per plane while recall decays along the LSH curve.
    *
    * Determinism/portability: the sample is the `sampleQ` ids with the
    * largest portable seed-hash (the k-means-seed chain — exact
    * integer arithmetic any engine replays); ground truth is exact
    * cosine with the (score desc, id asc) tie-break; buckets are the
    * same plan-literal sign bits as the build. Every count is an exact
    * long; recall is one IEEE division, 1e-6-quantized (empty truth →
    * recall 1.0).
    *
    * Scale shape: ground truth is ONE corpus scan against the
    * broadcast Q-row sample (bounded-heap top-k — no corpus shuffle),
    * then per depth two slim (id, table, key) passes: the occupancy
    * count and the capped-bucket join against the broadcast sample
    * buckets. The corpus never self-joins; candidate rows are capped
    * by Q · nTables · maxBucketSize.
    */
  def lshRecallProfile(df: DataFrame, vecCol: String, idCol: String, dim: Int,
      depths: Seq[Int], k: Int = 10, nTables: Int = 8,
      seed: Long = graft.operators.Dedup.DefaultSeed,
      maxBucketSize: Int = 1000, sampleQ: Int = 8): DataFrame = {
    require(depths.nonEmpty && depths.forall(d => d >= 1 && d <= Dedup.MaxPlanes),
      s"depths must be in [1, ${Dedup.MaxPlanes}], got $depths")
    require(k >= 1, s"k must be positive, got $k")
    require(sampleQ >= 1, s"sampleQ must be positive, got $sampleQ")
    val rd = graft.functions.MathFunctions.roundTo _
    val base = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    // deterministic portable sample: the sampleQ ids with the largest
    // portable seed-hash (same chain as the k-means / SemDeDup seeds);
    // Q rows, reused by every depth
    val sample = CheckpointBridge.localCheckpointFreshStats(
      seedSample(base, sampleQ).select(col("query_id"), col("v").as("qv")))
    // exact ground truth (self excluded): one corpus scan, broadcast
    // queries, bounded-heap top-k with the knnGraph tie-break; ≤ Q·k rows
    val truth = CheckpointBridge.localCheckpointFreshStats(
      base.crossJoin(broadcast(sample))
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("corpus_id"),
          cosine(col("qv"), col("v")).as("c"))
        .groupBy("query_id")
        .agg(graft.plans.TopKByScore.topKByScore(col("c"), col("corpus_id"), k).as("top"))
        .select(col("query_id"), explode(col("top.id")).as("corpus_id")))
    val truthN = truth.agg(count(lit(1)).as("truth_n"))
    // Per-depth branches are independent given the checkpointed
    // sample/truth: materialize each ONE-ROW result eagerly on its own
    // thread (guide §2.6 job overlap, r15) — the sequential lazy union
    // left the driver re-planning the 3-branch union per AQE stage
    // (measured: 22 stages, 2.25 s of zero-task gap on 2.3 CPU-s of
    // work); the final plan unions three ExistingRDD leaves instead.
    Graphs.inParallelSeq(depths.map { d => () =>
      val planes = (0 until nTables).map(t => Dedup.randomPlanes(d, dim, seed + t))
      val buckets = base.withColumn("buckets",
          column(graft.plans.HyperplaneBuckets(expression(col("v")), planes)))
        .select(col("id"), posexplode(col("buckets")).as(Seq("table", "key")))
      val work = Dedup.bucketSizes(buckets, Seq("table", "key"))
        .agg(coalesce(sum(Dedup.pairWork(col("bucket_n"), maxBucketSize)), lit(0L))
          .as("candidate_pairs"))
      val qb = sample.withColumn("buckets",
          column(graft.plans.HyperplaneBuckets(expression(col("qv")), planes)))
        .select(col("query_id"), posexplode(col("buckets")).as(Seq("table", "key")))
      val cand = Dedup.cappedBuckets(buckets, Seq("table", "key"), maxBucketSize)
        .join(broadcast(qb), Seq("table", "key"))
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("corpus_id")).distinct()
      // truth is ≤ Q·k rows but arrives as a stats-less checkpoint RDD,
      // so the planner would fall back to sort-merge: broadcast it
      val hits = cand.join(broadcast(truth), Seq("query_id", "corpus_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      CheckpointBridge.localCheckpointFreshStats(
        work.crossJoin(hits).crossJoin(truthN)
          .select(lit(d).as("n_planes"), col("candidate_pairs"), col("hits"),
            col("truth_n"),
            when(col("truth_n") === 0L, lit(1.0))
              .otherwise(rd(col("hits").cast("double") / col("truth_n").cast("double"), 6))
              .as("recall_at_k")))
    }).reduce(_ union _).orderBy("n_planes")
  }

  /** Symmetric per-vector int8 scalar quantization: q_i =
    * floor(v_i·127/m + 0.5) with m = max|v_i|, plus the
    * reconstruction scale m/127. The 4×-smaller storage/scan format
    * for embedding corpora (a 100 TB float32 store becomes 25 TB —
    * often the difference between "fits on the cluster's NVMe" and
    * "doesn't"); coarser than [[pqTopK]]'s codebooks but with NO
    * training step and exact per-element error bounds (≤ m/254).
    *
    * Determinism: every element is one multiply, one divide, one
    * floor — identical IEEE operation shapes in any engine, so the
    * quantized vectors (and everything computed from them) are
    * bit-reproducible; a zero vector quantizes to zeros with scale 0
    * rather than dividing by zero.
    */
  def int8Quantize(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val m = array_max(transform(v, x => abs(x)))
    df.select(col(idCol).as("id"),
      when(m === 0.0, lit(0.0)).otherwise(m / lit(127.0)).as("scale"),
      transform(v, x =>
        when(m === 0.0, lit(0L))
          .otherwise(floor(x * lit(127.0) / m + lit(0.5)).cast("long"))).as("q"))
  }

  /** Brute-force top-k over the int8-quantized corpus: the score is
    * the exact INTEGER dot product of the quantized vectors, scaled
    * back by both reconstruction scales — the dequantized
    * approximation of the true dot product. Same scale shape as
    * [[bruteForceTopK]] (queries broadcast, corpus scans once, never
    * shuffles, bounded-heap top-k) but the corpus side reads 8 bytes
    * per dimension less and the inner loop is integer MACs — the
    * operating point where the index is quantized at ingest and
    * queries run against it directly.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame,
               vecCol: String, idCol: String, k: Int): DataFrame = {
    // scan-parallelism floor (r15): the corpus side runs quantization
    // + every integer dot product in ONE scan task on the
    // single-row-group bench parquet (measured 0.9 CPU-s ≈ the query
    // wall). Scores are per-row deterministic and the top-k heap
    // orders by (score, id) — partition-order immune; no-op at
    // production scan widths.
    val c = int8Quantize(graft.operators.Dedup.scanParallelismFloor(corpus),
        vecCol, idCol)
      .select(col("id").as("corpus_id"), col("q").as("qb"), col("scale").as("sb"))
    val q = int8Quantize(queries, vecCol, idCol)
      .select(col("id").as("query_id"), col("q").as("qa"), col("scale").as("sa"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        (aggregate(zip_with(col("qa"), col("qb"), _ * _), lit(0L), _ + _).cast(DoubleType)
          * col("sa") * col("sb")).as("score"))
    scored.groupBy("query_id")
      .agg(graft.plans.TopKByScore.topKByScore(col("score"), col("corpus_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("query_id"), col("t.id").as("corpus_id"),
        col("t.score").as("score"), (col("r") + 1).as("rank"))
  }

  /** Deterministic portable-seed weights for [[linearScore]]: integer
    * weights in [-1000, 1000] (value·1e3) derived from the md5-based
    * portable hash, so any engine regenerates the identical model.
    */
  def linearWeightsQ(dim: Int, seed: String): IndexedSeq[Long] =
    (0 until dim).map { d =>
      val h = graft.plans.TextExprs.md5Hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$seed:$d"))
      (h % 2001L) - 1000L
    }

  /** Bias for [[linearScore]] in logit_q units (1e-9 resolution):
    * a portable-seed value in [-1, 1].
    */
  def linearBiasQ(seed: String): Long = {
    val h = graft.plans.TextExprs.md5Hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"$seed:bias"))
    ((h % 2001L) - 1000L) * 1000000L
  }

  /** Dense random-projection dimensionality reduction
    * (Johnson–Lindenstrauss / Achlioptas-style): y = Pᵀ·v with a
    * deterministic portable-seed integer matrix — the standard
    * preprocessing step that shrinks a wide embedding (e.g. 768-d)
    * to an ANN-friendly width while approximately preserving
    * pairwise distances. The signed variant of this idea is already
    * [[graft.operators.Dedup]]'s hyperplane LSH; this keeps the full
    * projected vector.
    *
    * Engine-portable: components quantize to 1e-6 integers, the
    * matrix entries are 1e-3 integers from the md5 seed
    * ([[linearWeightsQ]] per output dimension), so every output
    * component is an exact integer in 1e-9 units.
    *
    * Scale shape: the matrix is a PLAN LITERAL (dim × outDim
    * integers); projection is outDim independent zip_with/aggregate
    * folds inside the row — zero joins, zero shuffles, zero UDFs.
    */
  def randomProjection(df: DataFrame, vecCol: String, idCol: String,
                       dim: Int, outDim: Int,
                       seed: String = "rproj"): DataFrame = {
    require(dim > 0 && outDim > 0, s"dims must be positive, got $dim -> $outDim")
    val v = col(vecCol).cast("array<double>")
    val vq = transform(v, x => floor(x * lit(1e6) + lit(0.5)).cast("long"))
    val cols = (0 until outDim).map { j =>
      val wlit = array(linearWeightsQ(dim, s"$seed:$j").map(lit): _*)
      aggregate(zip_with(wlit, vq, (w, x) => w * x), lit(0L), (acc, p) => acc + p)
    }
    df.select(col(idCol),
      when(size(v) === dim, array(cols: _*)).as("proj_q"))
  }

  /** Linear scoring head over an embedding column — the
    * LAION-aesthetic-predictor / learned-quality-head inference shape
    * (score = w·v + b against a fixed model, threshold or top-k
    * downstream) that every embedding-based curation pipeline runs
    * after CLIP-style featurization. The model here is the
    * deterministic portable seed ([[linearWeightsQ]]/[[linearBiasQ]]);
    * a real trained head plugs in as the same integer literals.
    *
    * Engine-portable by construction: components quantize to 1e-6
    * integers, weights are 1e-3 integers, so
    * `logit_q = Σ w_q[d]·v_q[d] + b_q` is one exact integer expression
    * in 1e-9 units (|logit_q| ≤ dim·1e9 ≪ 2^63) — the DuckDB oracle
    * reproduces it bit-for-bit from the same baked literals.
    *
    * Scale shape: the model is a PLAN LITERAL (no join, no broadcast
    * table), scoring is a zip_with/aggregate scan-side expression —
    * zero shuffles, zero UDFs; rows with a wrong-dimension vector get
    * a NULL score and `keep = false` rather than poisoning the scan.
    */
  def linearScore(df: DataFrame, vecCol: String, idCol: String, dim: Int,
                  seed: String = "linhead", thresholdQ: Long = 0L): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val wlit = array(linearWeightsQ(dim, seed).map(lit): _*)
    val v = col(vecCol).cast("array<double>")
    val vq = transform(v, x => floor(x * lit(1e6) + lit(0.5)).cast("long"))
    val logitQ = when(size(v) === dim,
      aggregate(zip_with(wlit, vq, (w, x) => w * x), lit(linearBiasQ(seed)),
        (acc, p) => acc + p))
    df.select(col(idCol), logitQ.as("logit_q"))
      .select(col(idCol), col("logit_q"),
        graft.functions.MathFunctions.roundTo(
          col("logit_q").cast("double") / lit(1e9), 6).as("lin_score"),
        coalesce(col("logit_q") > thresholdQ, lit(false)).as("keep"))
  }
}
