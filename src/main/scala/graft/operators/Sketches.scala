package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.MathFunctions.roundTo

/** Distributed approximate sketches for 100 TB-scale profiling:
  * HyperLogLog distinct counting and Count-Min-Sketch heavy hitters.
  *
  * Both are built from PORTABLE primitives (the 60-bit md5 hash of
  * [[Dedup.portableHash60]], integer shifts, exact-power-of-two
  * arithmetic) so another engine can replicate the sketch BIT-EXACTLY
  * — which is how the DuckDB oracle verifies them as full
  * hash-matches rather than "approximately close" checks.
  *
  * Scale shape: each sketch is one map-side-combinable keyed
  * aggregation over the raw stream (bucket cardinality is a constant
  * `m` / `d·w`, independent of input size), so the shuffle is O(groups
  * × sketch size) regardless of row count — the property that makes
  * sketches the right tool when exact distinct/frequency state would
  * not fit anywhere.
  */
object Sketches {

  /** Integer-scaling shift for the HLL harmonic sum: max rank at
    * p ≥ 12 is 49, so `2^(50-rank)` is always an exact BIGINT ≥ 2.
    */
  val HllShift = 50

  /** `α_m · m² · 2^S` as ONE double literal — public so the oracle
    * SQL generator bakes the IDENTICAL constant.
    */
  def hllConstant(p: Int): Double = {
    val m = 1 << p
    (0.7213 / (1.0 + 1.079 / m)) * m * m * math.pow(2.0, HllShift)
  }

  /** Number of leading-zero-adjusted rank bits: position of the first
    * set bit (from the MSB of a `width`-bit value) + 1; `width + 1`
    * for value 0. Computed as `width - bitlength(v) + 1` with
    * `bitlength = length(bin(v))` — Spark and DuckDB `bin()` both
    * print the minimal binary form, making the expression portable.
    */
  private def rho(v: Column, width: Int): Column =
    when(v === 0L, lit(width + 1))
      .otherwise(lit(width) - length(bin(v)) + 1)

  /** HyperLogLog distinct estimate of `valueCol` per `groupCols`
    * (empty seq → one global row).
    *
    * Portable-determinism design:
    *  - register = low `p` bits of the 60-bit md5 hash; rank from the
    *    remaining `60-p` bits. Both pure integer ops.
    *  - the harmonic sum Σ 2^-M_j is computed in INTEGER arithmetic as
    *    `z_int = Σ 2^(S-M_j)` (S = 50 ≥ max rank 49 at p=12, so every
    *    term is an exact BIGINT; m·2^S ≤ 2^62 — no ANSI overflow).
    *    A double-precision Σ would be addition-order-dependent across
    *    engines; the integer form is exact, so the single final
    *    division `α·m²·2^S / z_int` is IEEE-deterministic everywhere.
    *  - raw HLL estimate only (no small/large-range corrections: they
    *    need `ln`, whose last-ulp behavior is libm-specific — the raw
    *    estimate keeps the oracle bit-exact). The raw estimate is the
    *    right tool for n ≳ 2.5·m (where HLL's 1.04/√m error bound
    *    holds); BELOW that it overestimates — which is exactly the
    *    regime where exact `count_distinct` is cheap, so callers
    *    should pick by expected scale. This is the standard
    *    HLL-without-LinearCounting trade, made deliberately for
    *    cross-engine determinism.
    *
    * Returns `groupCols :+ (n_exact, hll_estimate)` — the exact count
    * rides along for error accounting (drop it at true scale).
    */
  def hllDistinct(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  p: Int = 12): DataFrame = {
    // p ≤ 12: the empty-register contribution (m-n)·2^50 must stay
    // below 2^63 even for an all-empty sketch (m·2^50 = 2^62 at p=12;
    // p=13 would hit exactly 2^63 on empty input and THROW under ANSI)
    // the sketch core lives ONCE in hllRegisters/hllFromRegisters —
    // this is the single-table composition of the two (plus the exact
    // count riding along for error accounting)
    val estDf = hllFromRegisters(hllRegisters(df, valueCol, groupCols, p), groupCols, p)
    val gs = groupCols.map(col)
    val exact =
      if (groupCols.isEmpty) df.agg(countDistinct(col(valueCol)).as("n_exact"))
      else df.groupBy(gs: _*).agg(countDistinct(col(valueCol)).as("n_exact"))
    if (groupCols.isEmpty) exact.crossJoin(estDf)
    else exact.join(estDf, groupCols)
  }

  /** Per-group HLL register table — the MERGEABLE partial-sketch form
    * of [[hllDistinct]]. Registers from arbitrary partitions/shards
    * merge by pointwise MAX, so per-shard sketch sidecars roll up to
    * any coarser grouping (or the global union) without re-reading raw
    * data — the property that makes sketches the 100 TB answer to
    * distinct-counting overlapping sets (sums would double-count;
    * register max never does). Columns: groupCols :+ (hll_bucket,
    * hll_rank). Same portable integer hash/rank as [[hllDistinct]].
    */
  def hllRegisters(df: DataFrame, valueCol: String, groupCols: Seq[String],
                   p: Int = 12): DataFrame = {
    require(p >= 11 && p <= 12, s"p=$p outside [11,12] (BIGINT harmonic-sum headroom)")
    val m = 1 << p
    val width = 60 - p
    require(width + 1 <= HllShift, "rank must fit the integer scaling")
    val h = Dedup.portableHash60(col(valueCol).cast("string"))
    val bucket = pmod(h, lit(m.toLong))
    // high bits via INTEGER shift — h/m through `/` would round-trip a
    // 60-bit value through double and lose everything below 2^52
    val rank = rho(shiftright(h, p), width)
    val gs = groupCols.map(col)
    // NULL values are excluded (a null would otherwise produce a
    // null-bucket register row that skews __n in the harmonic fold) —
    // same semantics as COUNT(DISTINCT) and the oracle SQL
    // max rank per (group, register) — map-side combinable, ≤ m rows
    // per group survive the shuffle no matter the input size
    df.filter(col(valueCol).isNotNull)
      .select((gs :+ bucket.as("hll_bucket") :+ rank.as("hll_rank")): _*)
      .groupBy((gs :+ col("hll_bucket")): _*).agg(max("hll_rank").as("hll_rank"))
  }

  /** Distinct-count estimate from (possibly finer-grained) register
    * tables produced by [[hllRegisters]]: merge registers down to
    * `groupCols` by max, then the same integer harmonic fold as
    * [[hllDistinct]] — bit-identical to sketching the union directly
    * (max is associative), which is exactly what the oracle asserts.
    */
  def hllFromRegisters(regs: DataFrame, groupCols: Seq[String],
                       p: Int = 12): DataFrame = {
    require(p >= 11 && p <= 12, s"p=$p outside [11,12] (BIGINT harmonic-sum headroom)")
    val m = 1 << p
    val S = HllShift
    val gs = groupCols.map(col)
    val merged = regs.groupBy((gs :+ col("hll_bucket")): _*)
      .agg(max("hll_rank").as("__m"))
    // integer harmonic fold; empty registers contribute 2^S each
    val zNonEmpty = sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($S - __m AS INT))"))
    val grouped =
      if (groupCols.isEmpty) merged.agg(zNonEmpty.as("__z"), count("*").as("__n"))
      else merged.groupBy(gs: _*).agg(zNonEmpty.as("__z"), count("*").as("__n"))
    val zInt = col("__z") + (lit(m.toLong) - col("__n")) * lit(1L << S)
    // ONE pre-computed double literal (also baked verbatim into the
    // oracle SQL via hllConstant) so both engines perform exactly one
    // IEEE division — no cross-engine accumulation-order drift
    val est = lit(hllConstant(p)) / zInt.cast("double")
    grouped.select((gs :+ roundTo(est, 3).as("hll_estimate")): _*)
  }

  /** Bloom-filter bit array of a benchmark's shingle set, as packed
    * long words. The whole benchmark compresses to `mBits` bits
    * REGARDLESS of its size — that is the scale story: probing docs
    * against it is a broadcast-literal narrow map, no shuffle of the
    * corpus against the benchmark. The driver-side collect is bounded
    * by `mBits` DISTINCT positions (≤ 8·mBits bytes), never by
    * benchmark row count.
    */
  def bloomWords(benchmark: DataFrame, textCol: String,
                 shingleSize: Int, mBits: Int, kHashes: Int): Array[Long] = {
    require(mBits >= 64 && Integer.bitCount(mBits) == 1, s"mBits=$mBits must be a power of 2")
    require(kHashes >= 1 && kHashes <= 8)
    val sh = benchmark.select(
      explode(graft.functions.TextFunctions.wordShingles(col(textCol), shingleSize)).as("__sh"))
    val posCols = (0 until kHashes).map { j =>
      pmod(Dedup.portableHash60(concat(lit(s"bloom$j:"), col("__sh"))), lit(mBits.toLong))
    }
    val pos = sh.select(explode(array(posCols: _*)).as("__p")).distinct()
      .collect().map(_.getLong(0))
    val words = new Array[Long](mBits / 64)
    pos.foreach(p => words((p >> 6).toInt) |= (1L << (p & 63).toInt))
    words
  }

  /** Benchmark decontamination via a broadcast Bloom filter: a doc is
    * flagged iff ANY of its `shingleSize`-gram shingles has all
    * `kHashes` bloom bits set. One-sided error by construction — no
    * false NEGATIVES (everything [[Dedup.decontaminate]] would drop
    * is flagged), a tunable false-POSITIVE rate (~(1-e^(-kn/m))^k)
    * from bit collisions. The trade a 100 TB pipeline wants: the
    * probe is a literal-array bit test inside a scan (the exact path
    * shuffles doc shingles against benchmark shingles).
    *
    * Returns per-doc `(bloom_flagged, exact_contaminated)` — the
    * exact column rides along to audit the FP rate (drop it at true
    * scale; it re-introduces the join the bloom avoids).
    */
  def bloomDecontaminate(docs: DataFrame, benchmark: DataFrame,
                         textCol: String, idCol: String,
                         shingleSize: Int = 5, mBits: Int = 1 << 16,
                         kHashes: Int = 3): DataFrame = {
    import graft.functions.TextFunctions.wordShingles
    val words = bloomWords(benchmark, textCol, shingleSize, mBits, kHashes)
    val d = docs.select(col(idCol),
      explode(wordShingles(col(textCol), shingleSize)).as("__sh"))
    val withPos = (0 until kHashes).foldLeft(d.withColumn("__bw", typedLit(words.toSeq))) {
      (df, j) => df.withColumn(s"__p$j",
        pmod(Dedup.portableHash60(concat(lit(s"bloom$j:"), col("__sh"))), lit(mBits.toLong)))
    }
    // all-k-bits-set test against the literal word array; SQL-form
    // shiftleft accepts a column shift amount (the DSL overload
    // doesn't), and ConstantFolding keeps __bw a single plan literal
    val bitTests = (0 until kHashes).map { j =>
      s"(element_at(__bw, CAST(__p$j div 64 AS INT) + 1) & " +
      s"shiftleft(CAST(1 AS BIGINT), CAST(__p$j % 64 AS INT))) != 0"
    }
    val flagged = withPos.withColumn("__hit", expr(bitTests.mkString(" AND ")))
      .groupBy(col(idCol)).agg(max(col("__hit")).as("bloom_flagged"))
    val benchSh = benchmark
      .select(explode(wordShingles(col(textCol), shingleSize)).as("__sh")).distinct()
    val exact = d.join(benchSh, Seq("__sh")).select(col(idCol)).distinct()
      .withColumn("exact_contaminated", lit(true))
    docs.select(col(idCol))
      .join(flagged, Seq(idCol), "left")
      .join(exact, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("bloom_flagged"), lit(false)).as("bloom_flagged"),
        coalesce(col("exact_contaminated"), lit(false)).as("exact_contaminated"))
  }

  /** Count-Min-Sketch heavy hitters over exploded `itemCol` values:
    * estimated frequency = min over `d` hash rows of the hashed
    * bucket's total count. Returns the top `k` items by estimated
    * count (ties → item asc) with the exact count alongside.
    *
    * The sketch itself is one groupBy over (row, bucket) — `d·w` cells
    * regardless of input size — and the per-item estimate joins the
    * item's `d` cells against that constant-size table (broadcast: the
    * sketch is KB-sized by construction). Estimates are
    * over-approximations (collisions only ever ADD), the CMS
    * guarantee; with the portable hash the whole construction is
    * engine-reproducible, collisions included.
    */
  def cmsTopK(items: DataFrame, itemCol: String,
              d: Int = 4, w: Int = 1024, k: Int = 20): DataFrame = {
    require(d >= 1 && w >= 2)
    val stream = items.select(col(itemCol).cast("string").as("__item"))
      .filter(col("__item").isNotNull)
    def bucketOf(item: Column, row: Int): Column =
      pmod(Dedup.portableHash60(concat(lit(s"cms$row:"), item)), lit(w.toLong))
    // d replicated streams → one keyed count; d·w cells total
    val cells = stream
      .select(explode(array((0 until d).map { r =>
        struct(lit(r).as("__row"), bucketOf(col("__item"), r).as("__b"))
      }: _*)).as("__c"))
      .select(col("__c.__row").as("__row"), col("__c.__b").as("__b"))
      .groupBy("__row", "__b").agg(count("*").as("__cell_n"))
    val exact = stream.groupBy("__item").agg(count("*").as("exact_count"))
    // each distinct item probes its d cells; the cell table is tiny →
    // broadcast, so this adds no extra shuffle of the item set
    val probes = exact.select(col("__item"), col("exact_count"),
        explode(array((0 until d).map { r =>
          struct(lit(r).as("__row"), bucketOf(col("__item"), r).as("__b"))
        }: _*)).as("__c"))
      .select(col("__item"), col("exact_count"),
        col("__c.__row").as("__row"), col("__c.__b").as("__b"))
    probes.join(broadcast(cells), Seq("__row", "__b"))
      .groupBy("__item", "exact_count").agg(min("__cell_n").as("cms_estimate"))
      .orderBy(col("cms_estimate").desc, col("__item").asc)
      .limit(k)
      .select(col("__item").as("item"), col("cms_estimate"), col("exact_count"))
  }

  /** Fixed-grid histogram quantile sketch — the bounded-state
    * quantile answer that completes the sketch family (HLL for
    * distincts, CMS for frequencies, Bloom for membership, this for
    * distributions): `numBuckets` equal-width bins over a declared
    * `[lo, hi)` domain, one map-side-combinable count per bin, and
    * quantile estimates by linear interpolation inside the covering
    * bin. Rank error is bounded by the largest bin's mass; value
    * error by the bin width — the right trade when exact percentiles
    * would mean a full sort of 100 TB.
    *
    * Mergeable by construction: bin counts ADD, so per-shard
    * histograms roll up with a plain sum — the same property the HLL
    * register tables have.
    *
    * Portable-determinism design: bin assignment and interpolation
    * are fixed-shape IEEE expressions (same literals, same operation
    * order) that DuckDB replicates bit-for-bit; counts and rank
    * targets are exact integers. NULLs are excluded (SQL aggregate
    * semantics); values outside the domain clamp into the edge bins.
    *
    * Scale shape: ONE aggregation keyed by (group, bin) — at most
    * `numBuckets` slim rows per group cross the shuffle regardless of
    * row count; the cumulative/interpolation pass windows over ≤
    * `numBuckets` rows per group (bounded by the CONSTANT bin count,
    * never by data size).
    */
  def quantileSketch(df: DataFrame, valueCol: String, groupCols: Seq[String],
                     lo: Double, hi: Double, numBuckets: Int = 256,
                     quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(numBuckets >= 2 && numBuckets <= (1 << 20),
      s"numBuckets must be in [2, 2^20], got $numBuckets")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(quantiles.nonEmpty && quantiles.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must lie in [0, 1], got $quantiles")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val v = col(valueCol).cast("double")
    val bin = least(greatest(
      floor((v - lit(lo)) / (lit(hi) - lit(lo)) * lit(numBuckets)).cast("long"),
      lit(0L)), lit(numBuckets - 1L))
    val counts = df.filter(col(valueCol).isNotNull)
      .select((g :+ bin.as("__bin")): _*)
      .groupBy((groupCols :+ "__bin").map(col): _*).agg(count("*").as("__cnt"))
    val byGroup = Window.partitionBy(g: _*)
    val cum = sum("__cnt").over(byGroup.orderBy("__bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val n = sum("__cnt").over(byGroup)
    val binned = counts.select((g ++ Seq(col("__bin"), col("__cnt"),
      cum.as("__cum"), n.as("__n"))): _*)
    val q = explode(array(quantiles.map(lit): _*)).as("quantile")
    // rank target: the ceil(q·n)-th value, at least the 1st; the
    // covering bin is the unique one with cumBefore < target <= cum
    val target = greatest(ceil(col("quantile") * col("__n")).cast("long"), lit(1L))
    val width = (lit(hi) - lit(lo)) / lit(numBuckets)
    binned.select((g ++ Seq(col("__bin"), col("__cnt"), col("__cum"), col("__n"), q)): _*)
      .filter(col("__cum") >= target && (col("__cum") - col("__cnt")) < target)
      .select((g ++ Seq(col("quantile"),
        roundTo(lit(lo) + (col("__bin").cast("double") +
          (target - (col("__cum") - col("__cnt"))).cast("double") /
            col("__cnt").cast("double")) * width, 6).as("estimate"),
        col("__n").as("n"))): _*)
  }

  /** Per-row percentile assignment from the same fixed-grid histogram
    * as [[quantileSketch]]: a row's percentile is the fraction of its
    * GROUP's rows in strictly lower bins — rank normalization (score
    * calibration before mixing corpora scored on different scales)
    * WITHOUT a per-group window: the data pass shuffles ≤ numBuckets
    * bin counts per group, the (group, bin, cum_before, n) table is
    * O(groups·numBuckets) and broadcast back, and the assignment is
    * a scan-side equi-join — a 10^9-row group never sorts.
    *
    * Granularity is the bin width (rows in one bin share a
    * percentile); callers pick numBuckets for the resolution they
    * need. Exact integers until the single final division; NULL
    * values get NULL percentile.
    */
  def percentileScore(df: DataFrame, valueCol: String, groupCols: Seq[String],
                      lo: Double, hi: Double, numBuckets: Int = 256): DataFrame = {
    require(numBuckets >= 2 && numBuckets <= (1 << 20),
      s"numBuckets must be in [2, 2^20], got $numBuckets")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    val binExpr = least(greatest(
      floor((v - lit(lo)) / (lit(hi) - lit(lo)) * lit(numBuckets)).cast("long"),
      lit(0L)), lit(numBuckets - 1L))
    val g = groupCols.map(col)
    val counts = df.filter(col(valueCol).isNotNull)
      .select((g :+ binExpr.as("__bin")): _*)
      .groupBy((groupCols :+ "__bin").map(col): _*).agg(count("*").as("__cnt"))
    val byGroup = Window.partitionBy(g: _*)
    val cum = sum("__cnt").over(byGroup.orderBy("__bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val table = counts.select((g ++ Seq(col("__bin"),
      (cum - col("__cnt")).as("__cum_before"), sum("__cnt").over(byGroup).as("__n"))): _*)
    df.withColumn("__bin", when(v.isNull, lit(null).cast("long")).otherwise(binExpr))
      .join(broadcast(table), groupCols :+ "__bin", "left")
      .withColumn("percentile",
        when(col("__bin").isNull, lit(null).cast("double")).otherwise(
          graft.functions.MathFunctions.roundTo(
            col("__cum_before").cast("double") / col("__n").cast("double"), 6)))
      .drop("__bin", "__cum_before", "__n")
  }

  /** 2^60 as an (exactly representable) double — the KMV hash-space
    * size; public so the oracle bakes the identical literal.
    */
  val KmvSpace: Double = 1152921504606846976.0

  /** The KMV (k-minimum-values) synopsis of a column: the `k`
    * smallest DISTINCT portable hashes, ascending. Config-sized
    * (≤ k longs), mergeable (union = k smallest of the concatenation),
    * and — unlike HLL registers — supports SET OPERATIONS via
    * [[kmvSetOps]]: intersection/Jaccard estimates between corpora
    * (Beyer et al. 2007), e.g. "how much does this crawl snapshot
    * overlap last month's?" without ever joining them.
    *
    * Scale shape: one narrow hash map, a partial-aggregated distinct
    * on 8-byte hashes, then TakeOrderedAndProject (per-partition
    * bounded heaps + driver merge — never a global sort).
    */
  def kmvSketch(df: DataFrame, valueCol: String, k: Int,
                salt: String = "kmv"): Array[Long] = {
    require(k >= 2, s"k=$k must be >= 2")
    df.filter(col(valueCol).isNotNull)
      .select(Dedup.portableHash60(
        concat(lit(salt + ":"), col(valueCol).cast("string"))).as("__h"))
      .distinct()
      .orderBy("__h").limit(k)
      .collect().map(_.getLong(0))
  }

  /** Distinct-count estimate from a KMV synopsis: exact when fewer
    * than `k` distinct hashes exist, else `(k-1)·2^60 / h_k` — every
    * step a single IEEE op on exact integers, bit-reproducible.
    */
  def kmvEstimate(sketch: Array[Long], k: Int): Double =
    if (sketch.length < k) sketch.length.toDouble
    else (k - 1).toDouble * KmvSpace / sketch.last.toDouble

  /** KMV distinct estimate as a one-row DataFrame (oracle-checkable
    * form of [[kmvSketch]] + [[kmvEstimate]]).
    */
  def kmvDistinct(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sk = kmvSketch(df, valueCol, k)
    Seq((math.floor(kmvEstimate(sk, k) * 1e3 + 0.5) / 1e3, sk.length))
      .toDF("kmv_estimate", "n_kept")
  }

  /** Set-operation estimates between two corpora from their KMV
    * synopses alone (the sketches never see each other's raw rows):
    * the combined synopsis K = k smallest of HA ∪ HB estimates the
    * union; ρ = |K ∩ HA ∩ HB| / |K| estimates Jaccard; intersection
    * = ρ · union (Beyer et al. 2007). All set arithmetic is exact
    * integer work over ≤ 2k hashes; the only FP ops are the two
    * divisions and one multiply, in a fixed order — bit-reproducible
    * by the oracle.
    */
  def kmvSetOps(a: DataFrame, b: DataFrame, valueCol: String, k: Int,
                salt: String = "kmv"): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val ha = kmvSketch(a, valueCol, k, salt)
    val hb = kmvSketch(b, valueCol, k, salt)
    val haS = ha.toSet; val hbS = hb.toSet
    val combined = (haS ++ hbS).toArray.sorted.take(k)
    val unionEst =
      if (combined.length < k) combined.length.toDouble
      else (k - 1).toDouble * KmvSpace / combined.last.toDouble
    val inBoth = combined.count(h => haS.contains(h) && hbS.contains(h))
    val jaccard = inBoth.toDouble / combined.length.toDouble
    val intersectEst = jaccard * unionEst
    def r3(x: Double): Double = math.floor(x * 1e3 + 0.5) / 1e3
    Seq((r3(unionEst), r3(intersectEst), math.floor(jaccard * 1e6 + 0.5) / 1e6))
      .toDF("union_est", "intersect_est", "jaccard_est")
  }

  /** Distributed per-group KMV synopses: for every value of
    * `groupCol`, the k smallest distinct portable hashes of
    * `valueCol` — [[kmvSketch]] without the driver round-trip, one
    * row per group. The bounded-set aggregate
    * ([[graft.plans.BottomKLongs]]) keeps map-side partials k-bounded,
    * so ≤ k longs per (group, partition) cross the shuffle and a hot
    * domain never funnels its full membership into one task.
    */
  def kmvGroupSketches(df: DataFrame, groupCol: String, valueCol: String,
                       k: Int, salt: String = "kmv"): DataFrame = {
    require(k >= 2, s"k=$k must be >= 2")
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        Dedup.portableHash60(
          concat(lit(salt + ":"), col(valueCol).cast("string"))).as("__h"))
      .groupBy("grp").agg(graft.plans.BottomKLongs.bottomK(col("__h"), k).as("hs"))
  }

  /** Pairwise corpus-overlap matrix from per-group KMV synopses alone
    * (Beyer et al. 2007, as [[kmvSetOps]] but for ALL group pairs in
    * one pass): "how much does each crawl/source/snapshot overlap
    * every other?" — the duplication heat-map a curation run consults
    * before choosing what to dedup against — without ever joining the
    * groups' raw rows. Estimates per (a < b) pair: union, intersection,
    * Jaccard; exact below k distinct values.
    *
    * Scale shape: ONE pass over the data into config-sized sketches
    * (k longs per group), then a groups×groups broadcast self-join of
    * those sketch rows — |groups|² pairs of k-length arrays, nothing
    * data-sized. Every estimate is exact integer set arithmetic plus
    * the two fixed-order IEEE ops of [[kmvSetOps]], so the DuckDB
    * oracle reproduces all three numbers bit-for-bit.
    */
  def kmvOverlapMatrix(df: DataFrame, groupCol: String, valueCol: String,
                       k: Int, salt: String = "kmv"): DataFrame = {
    val sk = kmvGroupSketches(df, groupCol, valueCol, k, salt)
    val a = sk.select(col("grp").as("source_a"), col("hs").as("__ha"))
    val b = sk.select(col("grp").as("source_b"), col("hs").as("__hb"))
    val comb = slice(array_sort(array_union(col("__ha"), col("__hb"))), 1, k)
    val kc = lit((k - 1).toDouble * KmvSpace)
    a.join(b, col("source_a") < col("source_b"))
      .withColumn("__comb", comb)
      .withColumn("__n", size(col("__comb")))
      .withColumn("__union", when(col("__n") < k, col("__n").cast("double"))
        .otherwise(kc / element_at(col("__comb"), k).cast("double")))
      .withColumn("__inboth", size(array_intersect(
        array_intersect(col("__comb"), col("__ha")), col("__hb"))))
      .withColumn("__jac", col("__inboth").cast("double") / col("__n").cast("double"))
      .select(col("source_a"), col("source_b"),
        graft.functions.MathFunctions.roundTo(col("__union"), 3).as("union_est"),
        graft.functions.MathFunctions.roundTo(col("__jac") * col("__union"), 3).as("intersect_est"),
        graft.functions.MathFunctions.roundTo(col("__jac"), 6).as("jaccard_est"))
  }

  /** Pairwise Population Stability Index matrix — the dataset-drift
    * heat-map over a numeric signal (quality score, doc length,
    * model score): for every ordered pair of groups, PSI =
    * Σ_bins (p_a − p_b)·ln(p_a/p_b) over a fixed `[lo, hi)` grid with
    * add-one (Laplace) smoothing, so empty bins contribute finitely
    * and PSI is symmetric and ≥ 0. The standard monitoring gates
    * apply downstream (PSI < 0.1 stable, > 0.25 shifted).
    *
    * Cross-engine determinism: each bin's term is ONE fixed-shape IEEE
    * expression — two divisions, one `ln`, one multiply — quantized to
    * 1e-6 integers BEFORE the per-pair sum, so the sum is an exact
    * integer (summation-order-immune) and DuckDB replays it bit-for-
    * bit; 1-ulp `ln`/division disagreement is ~1e-15 at these
    * magnitudes, three orders under the quantization step.
    *
    * Scale shape: the data pass is ONE map-side-combined count keyed
    * by (group, bin) — ≤ numBuckets slim rows per group shuffle, the
    * same contract as [[quantileSketch]]; the pair matrix is a
    * broadcast groups×groups self-join over ≤ numBuckets-row bin
    * lists. Nothing data-sized ever collects or re-shuffles, so a
    * 10^12-row group costs the same downstream work as a 10^3-row one.
    */
  def psiMatrix(df: DataFrame, groupCol: String, valueCol: String,
                lo: Double, hi: Double, numBuckets: Int = 64): DataFrame = {
    require(numBuckets >= 2 && numBuckets <= (1 << 20),
      s"numBuckets must be in [2, 2^20], got $numBuckets")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val v = col(valueCol).cast("double")
    val binExpr = least(greatest(
      floor((v - lit(lo)) / (lit(hi) - lit(lo)) * lit(numBuckets)).cast("long"),
      lit(0L)), lit(numBuckets - 1L))
    val counts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), binExpr.as("bin"))
      .groupBy("grp", "bin").agg(count("*").as("cnt"))
    // collapse each group's sparse bin counts to ONE (grp, total,
    // bins[], cnts[]) row — O(groups) rows total, broadcastable
    val sk = counts.groupBy("grp").agg(
      sum("cnt").as("total"),
      sort_array(collect_list(struct(col("bin"), col("cnt")))).as("bc"))
      .select(col("grp"), col("total"),
        col("bc.bin").as("bins"), col("bc.cnt").as("cnts"))
    val a = sk.select(col("grp").as("group_a"), col("total").as("__ta"),
      col("bins").as("__bina"), col("cnts").as("__cnta"))
    val b = sk.select(col("grp").as("group_b"), col("total").as("__tb"),
      col("bins").as("__binb"), col("cnts").as("__cntb"))
    // per-bin smoothed counts via array lookup (0 when the bin is
    // absent), term quantized to 1e-6 integers, integer sum over the
    // CONSTANT-sized bin grid — all in-row, no explode, no shuffle
    // array_position is 0 when absent and element_at rejects index 0,
    // so the lookup must short-circuit through the CaseWhen
    def cntAt(bins: String, cnts: String): Column = {
      val pos = array_position(col(bins), col("__bin"))
      coalesce(when(pos > 0, element_at(col(cnts), pos.cast("int"))), lit(0L))
    }
    val nb = lit(numBuckets.toLong)
    val pA = (cntAt("__bina", "__cnta") + lit(1L)).cast("double") /
      (col("__ta") + nb).cast("double")
    val pB = (cntAt("__binb", "__cntb") + lit(1L)).cast("double") /
      (col("__tb") + nb).cast("double")
    val termQ = floor((pA - pB) * log(pA / pB) * lit(1e6) + lit(0.5)).cast("long")
    val grid = df.sparkSession.range(numBuckets).select(col("id").as("__bin"))
    a.join(b, col("group_a") < col("group_b"))
      .crossJoin(broadcast(grid))
      .groupBy("group_a", "group_b")
      .agg(graft.functions.MathFunctions.roundTo(
        (sum(termQ) / lit(1e6)).cast("double"), 6).as("psi"))
  }
}
