package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-reproducible sampling — the 100 TB
  * replacement for `rand()`-based sampling, whose membership changes
  * with partitioning, retries, and engine. Membership here is a pure
  * function of the row KEY (portable md5 hash), so:
  *
  *  - re-running the job (or re-running after task retries / AQE
  *    re-planning) selects the SAME rows;
  *  - any other engine reproduces the sample exactly (the DuckDB
  *    oracle does) — the property that lets a downstream team audit
  *    a 0.1% sample of a petabyte corpus without re-shipping it;
  *  - samples compose: a 10% sample of a 50% sample is the same set
  *    as sampling 5% directly with the two salts chained.
  *
  * Every operator is a narrow map (filter on a scan-side expression,
  * no shuffle) except [[hashTopK]], which is the classic distributed
  * bounded top-k (per-partition heaps, driver merge — never a full
  * sort).
  */
object Sampling {

  private val Denom = 1000000L

  /** Membership threshold in parts-per-million, exact integer compare
    * — no float thresholding on hashed values.
    */
  private def ppm(frac: Double): Long = {
    require(frac >= 0.0 && frac <= 1.0, s"frac=$frac outside [0,1]")
    math.round(frac * Denom)
  }

  private def bucketOf(key: Column, salt: String): Column =
    pmod(Dedup.portableHash60(concat(lit(salt + ":"), key.cast("string"))), lit(Denom))

  /** Per-stratum sampling rates (e.g. downsample English, keep all of
    * a rare language) — the data-mixing primitive of corpus curation.
    * A row is kept iff `hash(salt:key) mod 10^6 < rate·10^6`, so
    * different `salt`s give independent samples over the same keys.
    * Rates are baked as a literal CASE chain: the filter stays a
    * narrow scan-side expression, no join, no shuffle.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
                       fracs: Map[String, Double], defaultFrac: Double = 0.0,
                       salt: String = "samp"): DataFrame = {
    val thr = fracs.foldLeft(null.asInstanceOf[Column]) { case (acc, (stratum, f)) =>
      if (acc == null) when(col(stratumCol) === stratum, lit(ppm(f)))
      else acc.when(col(stratumCol) === stratum, lit(ppm(f)))
    }
    val thrCol = if (thr == null) lit(ppm(defaultFrac)) else thr.otherwise(lit(ppm(defaultFrac)))
    df.filter(bucketOf(col(keyCol), salt) < thrCol)
  }

  /** Target-mixture sampling (the DoReMi/Pile-style "domain
    * reweighting" primitive): given target SHARES per domain (summing
    * to ≤1), derive the per-domain keep-rates that produce the largest
    * possible output with EXACTLY those proportions, then sample
    * deterministically like [[stratifiedSample]].
    *
    * The output size is set by the scarcest domain: M = min_s(n_s/w_s)
    * docs total, rate_s = w_s·M/n_s (so the rate is 1.0 for the
    * binding domain and <1 elsewhere). Domains absent from `shares`
    * are dropped — a mixture spec is a whitelist.
    *
    * Scale shape: one map-side-combined count per domain (domain
    * cardinality rows — collected, they are config-sized, not
    * data-sized), then a narrow scan-side filter with the rates baked
    * as a literal CASE chain — no join, no shuffle on the data path.
    * Membership stays a pure function of (salt, key): reruns, task
    * retries, and other engines reproduce the same sample.
    */
  def mixtureSample(df: DataFrame, domainCol: String, keyCol: String,
                    shares: Map[String, Double],
                    salt: String = "mix"): DataFrame = {
    require(shares.nonEmpty, "mixture shares must be non-empty")
    require(shares.values.forall(v => v > 0.0 && v <= 1.0),
      s"each share must be in (0,1], got $shares")
    // cast to string so non-string domain columns (int langid codes)
    // work — the share keys are strings, and stratifiedSample's CASE
    // chain compares with === (which coerces) downstream
    val counts = df.filter(col(domainCol).cast("string").isInCollection(shares.keys.toSeq))
      .groupBy(col(domainCol).cast("string").as("__d")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // largest total M with w_s·M ≤ n_s for every requested domain; a
    // domain with zero rows forces M = 0 (empty result, not a crash)
    val m = shares.keys.map(s => counts.getOrElse(s, 0L).toDouble / shares(s))
      .min
    val rates = shares.map { case (s, w) =>
      val n = counts.getOrElse(s, 0L)
      s -> (if (n == 0L) 0.0 else math.min(1.0, w * m / n.toDouble))
    }
    stratifiedSample(df, domainCol, keyCol, rates, defaultFrac = 0.0, salt = salt)
  }

  /** Cluster-balanced (diversity) sampling: assign every embedding to
    * its nearest k-means cell, then keep at most `perCell` rows per
    * cell, picked by the deterministic hash order. Where uniform
    * sampling reproduces the corpus's density (a petabyte of
    * boilerplate stays a petabyte's share of the sample), this caps
    * every semantic region equally — the coverage-first subset
    * selection behind diverse-pretraining-mix and eval-set
    * construction, and the sampling complement of
    * [[Dedup.semanticDedup]] (same cells; dedup prunes by pairwise
    * similarity, this prunes by region budget).
    *
    * Scale shape: centroids via [[Similarity.kmeansCentroids]]
    * (bounded-heap seeding, no corpus shuffle); assignment is a
    * narrow map with the centroid matrix as a plan literal; then ONE
    * aggregation keyed by cell whose per-cell state is the bounded
    * heap — ≤ perCell·partitions slim (bucket, id) entries cross the
    * shuffle, and no window ever sorts a cell's full membership (a
    * hot cell is a skew bomb for a row_number plan, not for a heap).
    * Selection is a pure function of (salt, id): reruns, retries, and
    * the DuckDB oracle (lloydIters = 0) reproduce the exact sample.
    */
  def clusterBalancedSample(df: DataFrame, vecCol: String, idCol: String,
                            nCells: Int, perCell: Int, lloydIters: Int = 2,
                            salt: String = "cbs"): DataFrame = {
    require(nCells > 0, s"nCells=$nCells must be positive")
    require(perCell > 0, s"perCell=$perCell must be positive")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val base = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val cents = Similarity.kmeansCentroids(
      base.select(col("id").as("corpus_id"), col("v").as("cv")),
      nCells, lloydIters)
    val assigned = base.withColumn("cell_id",
      column(graft.plans.NearestCentroid(expression(col("v")), cents.toSeq.map(_.toSeq))))
      .select("id", "cell_id")
    // smallest ppm bucket wins, id tie-break; score is exact in a
    // double (≤ 10^6), so the heap order equals the SQL
    // (bucket asc, id asc) order bit-for-bit
    val scored = assigned.withColumn("__b", bucketOf(col("id"), salt))
    scored.groupBy("cell_id")
      .agg(graft.plans.TopKByScore.topKByScore(
        (lit(Denom) - col("__b")).cast("double"), col("id"), perCell).as("top"))
      .select(col("cell_id"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("cell_id"), col("t.id").as("id"), (col("r") + 1).cast("int").as("rank"))
  }

  /** Score-weighted deterministic sampling: keep each row with
    * probability proportional to a per-row score (clamped to [0, 1]
    * after scaling) — the importance-sampling primitive behind
    * quality-weighted corpus construction ("keep high-quality
    * documents at full rate, tail quality at their score's rate",
    * the soft alternative to a hard quality threshold).
    *
    * Membership: `hash(salt:key) mod 10^6 < floor(score·scale·10^6)`
    * — the threshold derives from the row's own score column, so the
    * filter stays a narrow scan-side expression (no join, no window)
    * and membership remains a pure function of (salt, key, score):
    * reruns, retries, and any engine reproduce the same sample. The
    * integer floor makes the comparison exact — no float-equality
    * hazard at the boundary.
    */
  def weightedSample(df: DataFrame, keyCol: String, scoreCol: String,
                     scale: Double = 1.0, salt: String = "wsamp"): DataFrame = {
    require(scale > 0.0 && scale.isFinite, s"scale=$scale must be positive and finite")
    // nanvl: a NaN score (0/0 ratio upstream) must mean "keep never",
    // not "keep always" — greatest(NaN, 0) propagates NaN and
    // least(NaN, 1) would then clamp it to probability 1
    val thr = floor(least(greatest(nanvl(col(scoreCol).cast("double"), lit(0.0)) * lit(scale),
      lit(0.0)), lit(1.0)) * lit(Denom.toDouble)).cast("long")
    df.filter(bucketOf(col(keyCol), salt) < thr)
  }

  /** Per-key cap: at most `cap` rows for every value of `keyCol`,
    * picked by deterministic hash order — the per-host / per-domain /
    * per-source limit every web-corpus recipe applies (C4's per-host
    * caps, CommonCrawl politeness budgets) so that one gigantic site
    * cannot dominate the training mix. [[clusterBalancedSample]] is
    * the embedding-space analog (k-means cell instead of an existing
    * key column).
    *
    * Scale shape: ONE aggregation keyed by `keyCol` whose per-key
    * state is the bounded heap — a key with 10^9 rows costs the same
    * heap as a key with `cap`+1, so hot domains are a non-event (the
    * row_number-window formulation would sort the hot key's whole
    * membership in one task). Selection is a pure function of
    * (salt, id): reruns, retries, and the DuckDB oracle reproduce it.
    */
  def perKeyCap(df: DataFrame, keyCol: String, idCol: String, cap: Int,
                salt: String = "cap"): DataFrame = {
    require(cap > 0, s"cap=$cap must be positive")
    val scored = df.select(col(keyCol).as("key"), col(idCol).as("id"))
      .withColumn("__b", bucketOf(col("id"), salt))
    scored.groupBy("key")
      .agg(graft.plans.TopKByScore.topKByScore(
        (lit(Denom) - col("__b")).cast("double"), col("id"), cap).as("top"))
      .select(col("key"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("key"), col("t.id").as("id"), (col("r") + 1).cast("int").as("rank"))
  }

  /** Exactly-k uniform sample without knowing the population size: the
    * `k` rows with the smallest key hash. Plans as
    * TakeOrderedAndProject (bounded per-partition heaps + driver
    * merge) — never a global sort. Ties (hash collisions) break by
    * key for full determinism.
    */
  def hashTopK(df: DataFrame, keyCol: String, k: Int,
               salt: String = "samp"): DataFrame =
    // full 60-bit hash, not the ppm bucket: fewer collisions keeps the
    // key tie-break from biasing the sample toward small keys
    df.withColumn("__samp_h",
        Dedup.portableHash60(concat(lit(salt + ":"), col(keyCol).cast("string"))))
      .orderBy(col("__samp_h").asc, col(keyCol).asc)
      .limit(k)
      .drop("__samp_h")

  /** α-temperature domain sampling (the XLM-R / mC4 multilingual
    * rebalancing rule): keep-rate ∝ n_d^(α−1), normalized so the
    * SMALLEST domain keeps everything — α→1 reproduces the corpus
    * as-is, α→0 flattens every domain to the smallest's size. Where
    * [[mixtureSample]] hits exact TARGET shares, this applies the
    * standard power-law softening used when no explicit mixture is
    * specified (low-resource languages upweighted, English softened).
    *
    * Scale shape: one map-side-combined count per domain (collected —
    * config-sized, not data-sized, same as [[mixtureSample]]), then a
    * narrow scan-side CASE filter. Membership is a pure function of
    * (salt, key) — reruns, retries, and the DuckDB oracle reproduce
    * the exact sample.
    */
  def temperatureSample(df: DataFrame, domainCol: String, keyCol: String,
                        alpha: Double = 0.3, salt: String = "temp"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha=$alpha must be in (0, 1]")
    val counts = df.groupBy(col(domainCol).cast("string").as("__d")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) df.filter(lit(false))
    else {
      val m = counts.values.map(n => math.pow(n.toDouble, alpha - 1.0)).max
      val rates = counts.map { case (d, n) =>
        d -> math.min(1.0, math.pow(n.toDouble, alpha - 1.0) / m)
      }
      stratifiedSample(df, domainCol, keyCol, rates, defaultFrac = 0.0, salt)
    }
  }

  /** DSIR importance resampling (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much it looks like the TARGET corpus under
    * hashed bag-of-words models — logw(x) = Σ_tokens λ[bucket(tok)]
    * with λ[b] = ln(p_target[b]/p_raw[b]), add-one smoothed — and keep
    * the top `k`. The standard "select pretraining data that matches
    * a high-quality target distribution" primitive (deterministic
    * top-k deviation from the paper's Gumbel resampling, so the
    * sample is reproducible and oracle-checkable).
    *
    * Engine-portable by construction: each bucket's λ quantizes to a
    * 1e-6 integer computed from ONE ln of an exact integer ratio
    * (products < 2^53, so the double inputs are identical across
    * engines), and a document's log-weight is an exact integer sum of
    * its tokens' λ_q.
    *
    * Scale shape: two map-side-combined bucket counts (numBuckets
    * rows each — config-sized), a full-outer join of those tiny
    * tables, and the model collapses to ONE map row broadcast to a
    * scan-side aggregate over the token array — the corpus shuffles
    * nothing, features never become rows, and selection is a bounded
    * TakeOrderedAndProject, never a global sort.
    */
  def dsirSample(raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
                 numBuckets: Int = 256, k: Int = 100, seed: String = "dsir"): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    require(k > 0, s"k must be positive, got $k")
    import graft.functions.TextFunctions.normalizeText
    val B = numBuckets.toLong
    def toksSafe(c: Column) = when(length(trim(c)) === 0,
      lit(Array.empty[String])).otherwise(split(normalizeText(c), " "))
    def bucket(t: Column) = pmod(
      Dedup.portableHash60(concat(lit(seed + ":"), t)), lit(B))
    // scan-parallelism floor: measured and REVERTED everywhere in this
    // operator (r15) — the md5 bucket-hash passes are too cheap to earn
    // the round-robin exchange at any placement tried (+0.28 s with
    // doc- or token-level floors on the count passes; no win from the
    // final logw_q scan floor either — bench-shaped A/B pairs, the
    // method `graft.tools.Profile` now runs).
    def bucketCounts(df: DataFrame, cname: String) =
      df.select(explode(toksSafe(col(textCol))).as("__t"))
        .select(bucket(col("__t")).as("__b"))
        .groupBy("__b").agg(count("*").as(cname))
    val rc = bucketCounts(raw, "__cr")
    val tc = bucketCounts(target, "__ct")
    val tot = rc.agg(coalesce(sum("__cr"), lit(0L)).as("__nr"))
      .crossJoin(tc.agg(coalesce(sum("__ct"), lit(0L)).as("__nt")))
    // λ_q[b] = round(ln((c_t+1)(n_r+B) / ((c_r+1)(n_t+B))) · 1e6)
    val lam = rc.join(tc, Seq("__b"), "full_outer")
      .select(col("__b"),
        coalesce(col("__cr"), lit(0L)).as("__cr"),
        coalesce(col("__ct"), lit(0L)).as("__ct"))
      .crossJoin(tot)
      .select(col("__b"),
        floor(log(((col("__ct") + 1L) * (col("__nr") + B)).cast("double") /
                  ((col("__cr") + 1L) * (col("__nt") + B)).cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("__lamq"))
    // the whole model is ONE broadcast row: the bucket→λ_q map plus
    // the never-seen-bucket default λ (c_r = c_t = 0 smoothing value)
    val model = lam
      .agg(map_from_arrays(collect_list("__b"), collect_list("__lamq")).as("__lam"))
      .crossJoin(tot.select(
        floor(log((col("__nr") + B).cast("double") / (col("__nt") + B).cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("__defq")))
    val bucks = transform(toksSafe(col(textCol)), t => bucket(t))
    raw.select(col(idCol), col(textCol))
      .crossJoin(broadcast(model))
      .select(col(idCol),
        size(toksSafe(col(textCol))).cast("long").as("n_tokens"),
        aggregate(bucks, lit(0L),
          (acc, b) => acc + coalesce(element_at(col("__lam"), b), col("__defq")))
          .as("logw_q"))
      .withColumn("dsir_score", when(col("n_tokens") === 0, lit(0.0)).otherwise(
        graft.functions.MathFunctions.roundTo(
          col("logw_q").cast("double") / (col("n_tokens").cast("double") * lit(1e6)), 6)))
      .orderBy(col("logw_q").desc, col(idCol))
      .limit(k)
  }

  /** Per-group winsorization: clamp a value column to its group's
    * [pLow, pHigh] quantile band, with the quantiles estimated by
    * [[Sketches.quantileSketch]] — so the data pass for thresholds
    * shuffles ≤ numBuckets slim bin-count rows per group, never the
    * values, and the clip itself is a narrow scan-side
    * `least(greatest(...))` against an O(groups)-row broadcast. The
    * standard outlier-taming step before score-weighted sampling or
    * feature aggregation (a 10^9-row hot group costs the same bin
    * table as a small one).
    *
    * Determinism: thresholds are the sketch's 1e-6-rounded
    * estimates; the clamp is two exact IEEE comparisons — an engine
    * replaying the sketch arithmetic reproduces every output bit.
    * NULL values stay NULL (clamping invents no data).
    */
  def winsorize(df: DataFrame, valueCol: String, groupCols: Seq[String],
                lo: Double, hi: Double, numBuckets: Int = 256,
                pLow: Double = 0.01, pHigh: Double = 0.99): DataFrame = {
    require(pLow < pHigh && pLow >= 0.0 && pHigh <= 1.0,
      s"need 0 <= pLow < pHigh <= 1, got ($pLow, $pHigh)")
    val qs = Sketches.quantileSketch(df, valueCol, groupCols, lo, hi,
      numBuckets, Seq(pLow, pHigh))
    val thr = qs.groupBy(groupCols.map(col): _*).agg(
      min(when(col("quantile") === pLow, col("estimate"))).as("__qlo"),
      min(when(col("quantile") === pHigh, col("estimate"))).as("__qhi"))
    val v = col(valueCol).cast("double")
    df.join(broadcast(thr), groupCols)
      .withColumn(s"${valueCol}_w",
        when(v.isNull, lit(null).cast("double"))
          .otherwise(least(greatest(v, col("__qlo")), col("__qhi"))))
      .drop("__qlo", "__qhi")
  }

  /** Deterministic GLOBAL shuffle order for training: every row gets a
    * stable 1-based position in a pseudo-random permutation of the
    * corpus — the "shuffle the dataset once, reproducibly" step before
    * sequence packing / epoch slicing. Order = ascending portable
    * 60-bit md5 hash of (salt, id); changing the salt reshuffles,
    * re-running does not.
    *
    * Scale shape: this is a distributed RANK, not a window —
    * [[TextAnalysis.runningSum]] range-partitions on the hash (each
    * task owns one contiguous hash slice), counts per-partition rows
    * (one long per partition collects), and streams each slice with
    * its broadcast prefix offset. No single-partition sort, no
    * driver-side data; a 10^12-row corpus costs one range exchange.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, salt: String): DataFrame = {
    val h = graft.operators.Dedup.portableHash60(
      concat(lit(salt), lit(":"), col(idCol).cast("string")))
    val withH = df.withColumn("__h", h).withColumn("__one", lit(1L))
    TextAnalysis.runningSum(withH, Seq("__h", idCol), "__one", "shuffle_pos")
      .drop("__h", "__one")
  }
}
