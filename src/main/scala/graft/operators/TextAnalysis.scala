package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.sql.types.LongType
import graft.functions.TextFunctions._

/** Whole-table text-analysis transforms over a `documents(text)`
  * table. Thin compositions of [[graft.functions.TextFunctions]] —
  * every derived column is a codegen'd expression, so these run at
  * scan speed and pipeline into downstream filters without a shuffle.
  */
object TextAnalysis {

  /** Token statistics: whitespace tokens, BPE-ish tokens, chars. */
  def tokenStats(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("n_bpeish_tokens", bpeishTokenCount(col(textCol)))
      .withColumn("n_chars_computed", length(col(textCol)))

  /** Quality columns: punct ratio, stopword ratio, composite score. */
  def quality(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("punct_ratio", graft.functions.MathFunctions.roundTo(punctRatio(col(textCol)), 6))
      .withColumn("stopword_ratio", graft.functions.MathFunctions.roundTo(stopwordRatio(col(textCol)), 6))
      .withColumn("quality_score", qualityScore(col(textCol)))

  /** Heuristic language ID column. */
  def withLangId(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("lang_pred", langId(col(textCol)))

  /** Fingerprints: md5 of normalized text + 64-bit rolling hash. */
  def fingerprints(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fingerprint", fingerprint(col(textCol)))
      .withColumn("rolling_hash", rollingHash(col(textCol)))

  /** Gopher-style repetition signals (Rae et al. 2021, §A1.1 "repetition
    * filters" family) — the standard quality gate against boilerplate
    * and degenerate generations:
    *
    *  - `top_token_frac`: count of the most frequent token / total
    *    tokens. Computed with an explode + two keyed aggregations —
    *    both shuffles are keyed by (doc, token) / doc, partially
    *    aggregated map-side, so the plan is safe at any corpus size.
    *  - `dup_2gram_frac`: 1 − distinct/total word 2-grams, computed
    *    entirely with array built-ins (no explode, no shuffle).
    */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.MathFunctions.roundTo
    val toks = split(normalizeText(col(textCol)), " ")
    val nGrams = size(toks) - 1
    // zip_with against the 1-shifted slice: HOF array operands
    // evaluate once per row, where the index-transform form captured
    // `toks` inside the lambda and re-split the doc per element
    val grams = slice(zip_with(toks, slice(toks, lit(2), greatest(nGrams, lit(0))),
      (a, b) => concat_ws(" ", a, b)), lit(1), greatest(nGrams, lit(0)))
    val dupFrac = when(nGrams <= 0, lit(0.0)).otherwise(
      roundTo(lit(1.0) - size(array_distinct(grams)).cast("double") / nGrams.cast("double"), 6))
    val withDup = df.select(col(idCol), col(textCol)).withColumn("dup_2gram_frac", dupFrac)
    val top = df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .groupBy(idCol, "__tok").agg(count("*").as("__n"))
      .groupBy(idCol).agg(
        roundTo(max("__n").cast("double") / sum("__n").cast("double"), 6).as("top_token_frac"))
    withDup.join(top, Seq(idCol)).select(idCol, "top_token_frac", "dup_2gram_frac")
  }

  /** DISTRIBUTED global running sum of `valueCol` in `sortCol` order —
    * the classic two-pass prefix sum, NOT a single-partition window:
    * range-repartition on the sort key, per-partition subtotals
    * (tiny collect: one long per partition), then a per-partition
    * streaming pass that starts from the broadcast prefix offset.
    * For UNIQUE `sortCols` keys the values are identical to
    * `sum().over(Window.orderBy(sortCols))` at any partition count
    * (callers must pass a key set that totally orders rows — with
    * duplicate keys, tie order within a partition is arbitrary AND the
    * window's default RANGE frame would sum peer rows together, so
    * neither formulation is well-defined). Holds at 100 TB because no
    * task ever sees more than its own range slice.
    */
  def runningSum(df: DataFrame, sortCols: Seq[String], valueCol: String, outCol: String): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(n, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    val valIdx = sorted.schema.fieldIndex(valueCol)
    // BOTH passes run over the SAME compiled RDD: a fresh `.rdd` (or a
    // DataFrame agg) could get a different AQE partition coalescing,
    // which would misalign partition ids with the prefix offsets.
    val rdd = sorted.rdd
    val nParts = rdd.getNumPartitions
    // nulls contribute 0 to the running total, matching sum().over()
    // which skips null frame rows (the row itself still gets the
    // carried total; downstream arithmetic null-propagates as before)
    def valOf(r: Row): Long = if (r.isNullAt(valIdx)) 0L else r.getLong(valIdx)
    val partSums = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L; it.foreach(r => s += valOf(r)); Iterator((pid, s))
    }.collect().toMap
    val offsets = new Array[Long](nParts + 1)
    for (p <- 0 until nParts) offsets(p + 1) = offsets(p) + partSums.getOrElse(p, 0L)
    val schema = sorted.schema.add(outCol, LongType, nullable = false)
    val rows = rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = offsets(pid)
      it.map { r => acc += valOf(r); Row.fromSeq(r.toSeq :+ acc) }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Sequence packing for LLM training: assign each document to the
    * token-budget pack in which it STARTS, via the distributed running
    * token count. One range shuffle + two scan passes — no global
    * window.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Int = 2048): DataFrame = {
    val withTok = df.withColumn("n_tokens", tokenCount(col(textCol)).cast("long"))
    runningSum(withTok, Seq(idCol), "n_tokens", "cum")
      .withColumn("pack_id", floor((col("cum") - col("n_tokens")) / budget).cast("long"))
  }

  /** Exact chunk-level (sub-document) dedup stats, the "Deduplicating
    * Training Data Makes Language Models Better" (Lee et al. 2022)
    * family: split each document into consecutive non-overlapping
    * `chunkSize`-token chunks and mark every chunk occurrence that is
    * not the GLOBALLY FIRST occurrence of its chunk text (first =
    * lowest doc id, then lowest position within it) as a duplicate.
    * Returns per-doc `(n_chunks, n_dup_chunks, dup_frac)` — the
    * signal a curation pipeline thresholds to drop boilerplate-heavy
    * documents that document-level dedup can't see.
    *
    * Scale shape: deliberately NO window over the chunk key (a hot
    * boilerplate chunk would pile its ~10⁹ occurrences into one
    * window partition). Instead: two keyed aggregations (min doc,
    * then min position within that doc — both map-side combinable,
    * so a hot chunk costs one combiner cell per task) and two
    * equi-joins on the chunk hash, then a per-doc count aggregate.
    * Chunks travel as 60-bit portable hashes, not strings — the
    * shuffle carries 8 bytes per occurrence regardless of chunk text
    * size, and the md5-based hash keeps the whole construction
    * engine-replicable (oracle-checkable) end to end.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkSize: Int = 3): DataFrame = {
    require(chunkSize >= 1)
    val toks = split(normalizeText(col(textCol)), " ")
    // native one-pass chunk hashing ([[graft.plans.GramPosHashExpr]],
    // stride = chunkSize): the index-transform form captured `toks`
    // inside the lambda and re-split the doc per chunk
    val chunks = {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      column(graft.plans.GramPosHashExpr(expression(toks), chunkSize, chunkSize))
    }
    val occ = df
      .select(col(idCol).as("__id"), explode(chunks).as("__c"))
      .select(col("__id"), col("__c.pos").as("__pos"), col("__c.h").as("__h"))
    val firstDoc = occ.groupBy("__h").agg(min("__id").as("__fd"))
    val firstPos = occ.join(firstDoc, "__h").filter(col("__id") === col("__fd"))
      .groupBy("__h", "__fd").agg(min("__pos").as("__fp"))
    val flagged = occ.join(firstPos, "__h")
      .withColumn("__dup",
        when(col("__id") === col("__fd") && col("__pos") === col("__fp"), 0L).otherwise(1L))
    val perDoc = flagged.groupBy(col("__id").as(idCol)).agg(
      count("*").as("n_chunks"),
      sum("__dup").as("n_dup_chunks"))
    // docs shorter than one chunk have zero occurrences — restore them
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        when(col("n_chunks") === 0, lit(0.0)).otherwise(
          graft.functions.MathFunctions.roundTo(
            col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"), 6)))
  }

  /** Exact substring-duplication spans (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better", §3 ExactSubstr —
    * the OVERLAPPING-gram refinement of [[chunkDedup]]'s disjoint
    * chunks): every `gramSize`-token window is hashed; a position is
    * duplicated when its gram occurs ≥2 times corpus-wide; runs of
    * consecutive duplicated positions merge into MAXIMAL spans
    * (gaps-and-islands), so a verbatim 50-token boilerplate block
    * reports as ONE span of 50 tokens, not 46 overlapping hits.
    *
    * Scale shape: grams shuffle as 8-byte portable hashes keyed by
    * gram (map-side-combined count, then one slim equi-join back);
    * the islands window partitions by DOCUMENT — bounded by a doc's
    * own token count, never by gram popularity, so a hot boilerplate
    * gram cannot pile into one task. Per-doc output keeps result
    * cardinality = corpus cardinality.
    */
  /** Shared TAG/REMOVE front-end: the (doc, pos, hash60) occurrence
    * stream of every `gramSize`-token window over the normalized
    * token array. ONE definition so [[substringDedup]] and
    * [[substringStrip]] can never drift on the hash recipe or the
    * sequence(0, -1)-is-not-empty guard their shared-hash contract
    * depends on.
    */
  private def gramOccurrences(df: DataFrame, idCol: String, textCol: String,
                              gramSize: Int): DataFrame = {
    val toks = split(normalizeText(col(textCol)), " ")
    // native one-pass gram hashing ([[graft.plans.GramPosHashExpr]],
    // stride = 1): the index-transform form captured `toks` inside
    // the lambda and re-split the doc per gram — O(tokens²) per doc
    val grams = {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      column(graft.plans.GramPosHashExpr(expression(toks), gramSize, 1))
    }
    df.select(col(idCol).as("__id"), explode(grams).as("__g"))
      .select(col("__id"), col("__g.pos").as("__pos"), col("__g.h").as("__h"))
  }

  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     gramSize: Int = 5): DataFrame = {
    require(gramSize >= 2, s"gramSize must be >= 2, got $gramSize")
    import org.apache.spark.sql.expressions.Window
    val toks = split(normalizeText(col(textCol)), " ")
    val nGrams = greatest(size(toks) - (gramSize - 1), lit(0))
    val occ = gramOccurrences(df, idCol, textCol, gramSize)
    val dupHashes = occ.groupBy("__h").agg(count("*").as("__c"))
      .filter(col("__c") >= 2).select("__h")
    val dup = occ.join(dupHashes, "__h").select("__id", "__pos")
    // gaps-and-islands: consecutive duplicated positions share
    // (pos - row_number); window key is the doc id, bounded state
    val w = Window.partitionBy("__id").orderBy("__pos")
    val spans = dup
      .withColumn("__grp", col("__pos") - row_number().over(w))
      .groupBy("__id", "__grp").agg(count("*").as("__len"))
    val perDoc = spans.groupBy(col("__id").as(idCol)).agg(
      sum("__len").as("n_dup_grams"),
      count("*").as("n_spans"),
      (max("__len") + lit(gramSize - 1)).as("max_span_tokens"))
    df.select(col(idCol), nGrams.cast("long").as("n_grams"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"))
      .withColumn("dup_gram_frac",
        when(col("n_grams") === 0, lit(0.0)).otherwise(
          graft.functions.MathFunctions.roundTo(
            col("n_dup_grams").cast("double") / col("n_grams").cast("double"), 6)))
  }

  /** The REMOVE step of exact substring dedup (Lee et al. 2022
    * ExactSubstr §4): every duplicated `gramSize`-token window keeps
    * only its GLOBAL first occurrence (min (doc, pos)); all other
    * occurrences are cut from the text. Cutting a position removes
    * its whole token window, so maximal duplicated runs vanish and
    * the first copy survives verbatim — e.g. a boilerplate footer
    * shared by 10k pages survives in exactly one of them.
    *
    * Returns (id, clean_text, n_tokens_removed) over the NORMALIZED
    * token stream (lower-cased, whitespace-collapsed — the same
    * canonical form every dedup operator here works on).
    *
    * Scale shape: gram occurrences shuffle as 8-byte hashes (map-side
    * combined aggregates + slim joins), removed indices collapse to
    * ONE int-array row per affected doc, and the cleaned text is
    * rebuilt SCAN-SIDE with higher-order functions after a single
    * per-doc equi-join of those arrays (text rides that one exchange
    * once; small-SF plans broadcast the arrays instead). No per-token
    * rows ever cross a shuffle and there is no window at all.
    */
  def substringStrip(df: DataFrame, idCol: String, textCol: String,
                     gramSize: Int = 5): DataFrame = {
    require(gramSize >= 2, s"gramSize must be >= 2, got $gramSize")
    val toks = split(normalizeText(col(textCol)), " ")
    val occ = gramOccurrences(df, idCol, textCol, gramSize)
    // global first occurrence of each gram: min doc, then min pos
    // within that doc (chunkDedup's two-step, skew-safe formulation)
    val firstDoc = occ.groupBy("__h").agg(min("__id").as("__fd"))
    val firstPos = occ.join(firstDoc, "__h").filter(col("__id") === col("__fd"))
      .groupBy("__h", "__fd").agg(min("__pos").as("__fp"))
    val dup = occ.join(firstPos, "__h")
      .filter(!(col("__id") === col("__fd") && col("__pos") === col("__fp")))
    // expand each removed gram to its token window, dedup indices,
    // and collapse to ONE array row per doc — the only doc-keyed
    // shuffle carries removed indices, not tokens
    val removed = dup
      .select(col("__id"), explode(sequence(col("__pos"), col("__pos") + (gramSize - 1))).as("__ti"))
      .distinct()
      .groupBy("__id").agg(sort_array(collect_list("__ti")).as("__rem"))
    val rem = coalesce(col("__rem"), lit(Array.emptyIntArray))
    // toks is PROJECTED to a column BELOW the join before the lambda
    // references it: a lambda-captured attribute is an O(1) read per
    // element, where the inlined split(normalize(text)) expression
    // would re-evaluate per kept token — O(tokens²) per doc (the
    // winnowing-class HOF capture pitfall). The projection must sit
    // under the join boundary: CollapseProject merges ADJACENT
    // projects and would otherwise substitute the expression straight
    // back into the lambda body.
    val n = size(col("__toks"))
    // array_except is hash-based O(n + removed) and keeps the first
    // array's order; the filter/array_contains form was O(n·removed)
    // per doc — quadratic on exactly the boilerplate-heavy docs this
    // operator targets
    val keptIdx = array_except(sequence(lit(0), n - 1), rem)
    df.select(col(idCol), toks.as("__toks"))
      .join(removed.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        concat_ws(" ", transform(keptIdx,
          i => element_at(col("__toks"), i + lit(1)))).as("clean_text"),
        size(rem).cast("long").as("n_tokens_removed"))
  }

  /** Corpus-trained smoothed-bigram fluency score — the shape of
    * CCNet/Wenzek et al. 2020's perplexity filtering, self-contained:
    * the "language model" is the corpus's own add-one-smoothed bigram
    * table, and each document scores the mean conditional probability
    * of its bigrams, p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V). Degenerate
    * and boilerplate text (high repetition) scores HIGH; rare-token
    * noise scores LOW — downstream filters cut both tails.
    *
    * Engine-portable by construction: every per-bigram probability is
    * quantized to an integer (1e-9 resolution) BEFORE the per-doc
    * mean, so the aggregation is an exact integer sum — immune to
    * float summation order across partitions (the DuckDB oracle
    * reproduces it bit-for-bit).
    *
    * Scale shape: three map-side-combined aggregations (bigram
    * counts, unigram counts, vocab size) + two slim equi-joins keyed
    * by token/bigram; the vocab size rides as a broadcast single-row
    * cross join. No windows, no data-sized collects.
    */
  /** (w1, w2) bigram structs of a token array via `zip_with` of the
    * array against its own 1-shifted slice. The array operands of a
    * higher-order function are evaluated ONCE PER ROW; the earlier
    * `transform(indices, i -> struct(element_at(toks, i+1), …))`
    * formulation captured `toks` INSIDE the lambda, and a
    * lambda-captured expression re-evaluates per element — the whole
    * normalize+split re-ran per bigram, O(tokens²) per document
    * (measured: the bigram explode alone cost 12 s on 5k docs; this
    * form is sub-second). Same winnowing-class pitfall, fixed at the
    * composition level since zip_with expresses it exactly.
    */
  private def bigramStructs(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n1 = greatest(size(toks) - 1, lit(0))
    slice(zip_with(toks, slice(toks, lit(2), n1),
      (a, b) => struct(a.as("w1"), b.as("w2"))), lit(1), n1)
  }

  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(normalizeText(col(textCol)), " ")
    val bigrams = bigramStructs(toks)
    val occ = df
      .select(col(idCol).as("__id"), explode(bigrams).as("__b"))
      .select(col("__id"), col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
    val uniCnt = df
      .select(explode(split(normalizeText(col(textCol)), " ")).as("__w"))
      .groupBy("__w").agg(count("*").as("__c1"))
    val biCnt = occ.groupBy("__w1", "__w2").agg(count("*").as("__c12"))
    val vocab = broadcast(uniCnt.agg(count("*").as("__v")))
    // quantize each smoothed probability to 1e-9 BEFORE summing: the
    // per-doc aggregate is then an exact integer sum in any order
    val q = floor(((col("__c12") + 1).cast("double") /
        (col("__c1") + col("__v")).cast("double")) * lit(1e9) + lit(0.5)).cast("long")
    val perDoc = occ
      .join(biCnt, Seq("__w1", "__w2"))
      .join(uniCnt.withColumnRenamed("__w", "__w1"), Seq("__w1"))
      .crossJoin(vocab)
      .select(col("__id"), q.as("__q"))
      .groupBy(col("__id").as(idCol)).agg(
        count("*").as("n_bigrams"),
        sum("__q").as("__sq"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0.0)).otherwise(
          graft.functions.MathFunctions.roundTo(
            col("__sq").cast("double") / (col("n_bigrams").cast("double") * lit(1e9)), 6))
          .as("lm_score"))
  }

  /** Per-GROUP variant of [[lmScore]]: every group (language) trains
    * its own add-one-smoothed bigram table and scores only its own
    * documents — the faithful CCNet shape (one LM per language,
    * Wenzek et al. 2020) that the corpus-wide [[lmScore]]
    * approximates. Same integer-quantization contract (each smoothed
    * probability → 1e-9 integer BEFORE the per-doc sum).
    *
    * Scale shape: identical to [[lmScore]] with the group key added
    * to every count key — (grp, w1, w2) bigram counts, (grp, w)
    * unigram counts, per-grp vocab sizes (|groups| rows, broadcast) —
    * all map-side combined; a hot language spreads over its (w1, w2)
    * space, never one task.
    */
  def lmScoreBy(df: DataFrame, idCol: String, textCol: String,
                groupCol: String): DataFrame = {
    val toks = split(normalizeText(col(textCol)), " ")
    val bigrams = bigramStructs(toks)
    // scan-parallelism floor (r15): the per-language LM runs THREE
    // tokenizing scans of the corpus (bigram explode for occ — read
    // twice downstream — plus the unigram counts), each a single task
    // on the single-row-group bench parquet (measured 3×(1.3–2.0)
    // CPU-s serialized). Floor the slim doc rows once BEFORE the
    // explodes; all downstream aggregates are exact counts and the
    // per-doc score is a rounded quotient of exact integers —
    // partition-order immune. No-op at production scan widths.
    val base = graft.operators.Dedup.scanParallelismFloor(
      df.select(col(idCol).as("__id"), col(groupCol).as("__g"), col(textCol)))
    val occ = base
      .select(col("__id"), col("__g"), explode(bigrams).as("__b"))
      .select(col("__id"), col("__g"), col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
    val uniCnt = base
      .select(col("__g"),
        explode(split(normalizeText(col(textCol)), " ")).as("__w"))
      .groupBy("__g", "__w").agg(count("*").as("__c1"))
    val biCnt = occ.groupBy("__g", "__w1", "__w2").agg(count("*").as("__c12"))
    val vocab = broadcast(uniCnt.groupBy("__g").agg(count("*").as("__v")))
    val q = floor(((col("__c12") + 1).cast("double") /
        (col("__c1") + col("__v")).cast("double")) * lit(1e9) + lit(0.5)).cast("long")
    val perDoc = occ
      .join(biCnt, Seq("__g", "__w1", "__w2"))
      .join(uniCnt.withColumnRenamed("__w", "__w1"), Seq("__g", "__w1"))
      .join(vocab, Seq("__g"))
      .select(col("__id"), q.as("__q"))
      .groupBy(col("__id").as(idCol)).agg(
        count("*").as("n_bigrams"),
        sum("__q").as("__sq"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0.0)).otherwise(
          graft.functions.MathFunctions.roundTo(
            col("__sq").cast("double") / (col("n_bigrams").cast("double") * lit(1e9)), 6))
          .as("lm_score"))
  }

  /** Robust winnowing fingerprints (Schleimer et al. 2003, the MOSS
    * algorithm): hash every `gramSize`-token window, slide a window of
    * `w` consecutive gram hashes, and select the MINIMUM hash per
    * window (rightmost on ties). Guarantees: every `w`-window
    * contributes a fingerprint (detection gap ≤ w + gramSize − 1
    * tokens) while keeping the fingerprint density ~2/(w+1) — the
    * position-robust document fingerprinting used for plagiarism /
    * near-dup detection where [[chunkDedup]]'s aligned chunks would
    * miss shifted copies. Returns per-doc fingerprint summaries;
    * cross-doc matching composes the selected hashes with the
    * existing dedup joins.
    *
    * Scale shape: pure scan-side higher-order functions — the gram
    * hash array, the window minima, and the distinct-position
    * fold all happen inside the row (O(g·w) per doc, w is small);
    * nothing shuffles, nothing explodes into rows. Engine-portable:
    * every selected fingerprint is an (integer position, 60-bit md5
    * hash) pair — no floats anywhere.
    */
  /** The winnowing-selected gram hashes of `textCol` as an array
    * Column (one distinct hash per selected position) — shared by
    * [[winnowing]] and [[winnowingPairs]].
    */
  private def winnowSelected(textCol: String, gramSize: Int, w: Int):
      (org.apache.spark.sql.Column, org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val toks = split(normalizeText(col(textCol)), " ")
    val nTok = when(length(trim(col(textCol))) === 0, lit(0)).otherwise(size(toks))
    val nGrams = greatest(nTok - (gramSize - 1), lit(0))
    val nWin = greatest(nGrams - (w - 1), lit(0))
    // One native O(grams·w) pass per row ([[graft.plans.WinnowingExpr]]):
    // each gram digested once, rightmost-min selection in a compiled
    // loop. The previous nested-HOF formulation re-computed the
    // md5-of-every-gram array per window per reference (>5 min/query
    // at sf0.1); semantics are bit-identical.
    val selHashes = column(graft.plans.WinnowingExpr(expression(toks), gramSize, w))
    (nGrams, nWin, selHashes)
  }

  def winnowing(df: DataFrame, idCol: String, textCol: String,
                gramSize: Int = 5, w: Int = 4): DataFrame = {
    require(gramSize >= 2, s"gramSize must be >= 2, got $gramSize")
    require(w >= 1, s"window w must be >= 1, got $w")
    val (nGrams, nWin, selHashes) = winnowSelected(textCol, gramSize, w)
    df.select(col(idCol),
        nGrams.cast("long").as("n_grams"),
        nWin.cast("long").as("n_windows"),
        selHashes.as("__fp"))
      .select(col(idCol), col("n_grams"), col("n_windows"),
        size(col("__fp")).cast("long").as("n_fingerprints"),
        coalesce(array_min(col("__fp")), lit(0L)).as("fp_min"),
        aggregate(col("__fp"), lit(0L), (acc, h) => acc.bitwiseXOR(h)).as("fp_xor"))
  }

  /** Winnowing-based near-dup PAIRS (the MOSS matching step): two
    * documents match when they share at least `minShared` selected
    * fingerprint hashes — position-independent, so shifted/reordered
    * copies still pair, where [[chunkDedup]]'s aligned chunks would
    * not. Returns (id_a, id_b, n_shared) with id_a < id_b.
    *
    * Scale shape: the capped-bucket pair join of the LSH family
    * ([[Dedup.bucketPairs]]) over one slim (doc, hash) explode of the
    * ~2/(w+1)-density fingerprints — a fingerprint whose posting list
    * exceeds `maxBucketSize` docs is dropped whole (boilerplate skew
    * cap) — and the pair count is a map-side-combined aggregate over
    * it. Raw text never crosses a shuffle.
    */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
                     gramSize: Int = 5, w: Int = 4, minShared: Int = 2,
                     maxBucketSize: Int = 50): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    val (_, _, selHashes) = winnowSelected(textCol, gramSize, w)
    // scan-parallelism floor: the per-doc winnowing digest (md5 of
    // every gram) is the dominant CPU and the single-row-group
    // testdata scan runs it on one task — see Dedup.scanParallelismFloor
    val fp = Dedup.scanParallelismFloor(df).select(col(idCol).as("id"),
      explode(array_distinct(selHashes)).as("__h"))
    Dedup.bucketPairs(fp, Seq("__h"), maxBucketSize)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** CCNet-style head/middle/tail bucketing (Wenzek et al. 2020 §4.3):
    * split every language's documents into fluency terciles, so
    * downstream recipes can keep "head" (most target-like) text per
    * language rather than applying one global threshold that would
    * wipe out low-resource languages. Generic over the score column —
    * compose with [[lmScore]] for the CCNet shape (done in the
    * `txt_ccnet_buckets` query) or any other per-doc quality signal.
    * Deviation from the paper: CCNet trains one LM per language;
    * here the score is caller-supplied (the query uses the corpus-wide
    * [[lmScore]]) — the per-language TERCILE split is the operator.
    *
    * Thresholds come from the mergeable histogram sketch
    * ([[Sketches.quantileSketch]]) — per-group state is `numBuckets`
    * bins regardless of corpus size, so no window ever sorts a
    * language's full membership (a global `percent_rank` would) —
    * and the bucket assignment is a broadcast-join + CASE at scan
    * speed. Every threshold is the same deterministic interpolation
    * in both engines, so comparisons at the boundary agree exactly.
    */
  def languageBuckets(df: DataFrame, idCol: String, groupCol: String,
                      scoreCol: String, lo: Double, hi: Double,
                      numBuckets: Int = 256): DataFrame = {
    val third = 1.0 / 3.0
    val twoThirds = 2.0 / 3.0
    val qs = Sketches.quantileSketch(df, scoreCol, Seq(groupCol), lo, hi,
      numBuckets, quantiles = Seq(third, twoThirds))
    val thr = qs.groupBy(groupCol).agg(
      max(when(col("quantile") === third, col("estimate"))).as("__t1"),
      max(when(col("quantile") === twoThirds, col("estimate"))).as("__t2"))
    df.join(broadcast(thr), Seq(groupCol))
      .withColumn("bucket",
        when(col(scoreCol) > col("__t2"), lit("head"))
          .when(col(scoreCol) > col("__t1"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("__t1", "__t2")
  }

  /** C4/Gopher-style document filter flags (Raffel et al. 2020 §2.2;
    * Rae et al. 2021 §A1.1): each heuristic as its own boolean column
    * plus the composite `keep`. Tag-don't-drop, like the pipeline's
    * image filters — downstream picks the policy; the flags are the
    * audit trail.
    *
    * All flags are codegen'd scalar expressions (scan speed, no
    * shuffle): token-count bounds, mean-word-length bounds [3,10],
    * stopword presence, brace/lorem-ipsum content filters, and a
    * symbol-ratio cap.
    */
  def c4Filters(df: DataFrame, idCol: String, textCol: String,
                minTokens: Int = 50, maxTokens: Int = 100000): DataFrame = {
    import graft.functions.MathFunctions.roundTo
    val t = col(textCol)
    val toks = tokens(t)
    val n = size(toks)
    // mean word length over the normalized text: letters-only length /
    // token count (portable: one regexp + arithmetic)
    val meanLen = when(n === 0, lit(0.0)).otherwise(
      length(regexp_replace(normalizeText(t), " ", "")).cast("double") / n.cast("double"))
    val lower_t = lowerText(t)
    df.select(
      col(idCol),
      (n < minTokens).as("flag_too_short"),
      (n > maxTokens).as("flag_too_long"),
      (meanLen < 3.0 || meanLen > 10.0).as("flag_word_length"),
      (stopwordHits(t) === 0).as("flag_no_stopwords"),
      lower_t.contains("{").as("flag_brace"),
      lower_t.contains("lorem ipsum").as("flag_lorem"),
      (punctRatio(t) > 0.3).as("flag_symbol_ratio"),
      roundTo(meanLen, 6).as("mean_word_len"))
      .withColumn("keep",
        !col("flag_too_short") && !col("flag_too_long") && !col("flag_word_length") &&
        !col("flag_no_stopwords") && !col("flag_brace") && !col("flag_lorem") &&
        !col("flag_symbol_ratio"))
  }

  /** HTML → main text extraction: the WET-extraction step every
    * web-corpus pipeline runs before any text analysis (the
    * trafilatura/jusText class of problem, solved with portable
    * primitives). Stages, all codegen'd Column expressions — no UDF:
    *
    *  1. drop `<script>`/`<style>` blocks (content and all);
    *  2. turn block-closing tags (`</p> </div> </li> </h*> </tr>
    *     </title> <br>`) into newlines so block structure survives
    *     tag stripping;
    *  3. strip every remaining tag; unescape the common entities
    *     (`&amp;` LAST, so `&amp;lt;` cannot double-unescape);
    *  4. per line: collapse whitespace, trim, and keep only lines
    *     with ≥ `minWords` letter-bearing words — the line-level
    *     boilerplate gate ("Home | About | Contact" counts 3 words,
    *     dies; body prose survives). Letter-bearing = matches \p{L},
    *     so pipes/dates/© don't count as words. Caveat: an unspaced
    *     CJK line counts as ONE word — language-aware extraction
    *     plugs in here, as in every words-based extractor.
    *
    * Every regex is RE2-compatible (no lookaround), so the DuckDB
    * oracle replays the identical chain — the whole extraction is
    * engine-reproducible.
    */
  def htmlExtract(df: DataFrame, htmlCol: String, minWords: Int = 4): DataFrame = {
    val noScript = regexp_replace(col(htmlCol),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val blocks = regexp_replace(noStyle,
      "(?i)<(br|/p|/div|/li|/h[1-6]|/tr|/title)[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", " ")
    val unescaped = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, from, to) }
    val lines = split(unescaped, "\n")
    val cleaned = transform(lines, ln => trim(regexp_replace(ln, "\\s+", " ")))
    val kept = filter(cleaned, ln =>
      size(filter(split(ln, " "), w => w.rlike("\\p{L}"))) >= minWords)
    df.withColumn("extracted", array_join(kept, "\n"))
      .withColumn("n_lines_kept", size(kept).cast("int"))
      .withColumn("n_lines_total",
        size(filter(cleaned, ln => length(ln) > 0)).cast("int"))
  }

  /** TF-IDF keyword extraction: the top-`k` terms of each document
    * by tf·idf with smoothed log idf, ln((N+1)/(df+1)) + 1 — the
    * classic representation behind keyword tagging, near-dup domain
    * grouping, and lightweight retrieval over a curated corpus.
    *
    * Engine-portable by construction: idf is quantized to a 1e-6
    * integer PER TERM (its magnitude is ≤ ln(N)+1, where a 1-ulp ln
    * disagreement between engines is ~1e-15 — far below the
    * quantization step), and the score is the exact integer product
    * tf·idf_q. Ties break on the term string, so ranks are total.
    *
    * Scale shape: tf is one map-side-combined (doc,term) aggregate;
    * df reduces the ALREADY-unique tf pairs per term (slim rows);
    * the corpus size N rides a broadcast single-row cross join; the
    * only window partitions by DOCUMENT (bounded by distinct terms
    * per doc, never by corpus-wide term frequency — a stopword's
    * million postings never pile into one task).
    */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    // scan-parallelism floor: measured and REVERTED here (r15) — the
    // tokenize scan is too cheap to earn the round-robin exchange
    // (+0.36 s doc-level, +0.90 s token-level vs the single-task scan),
    // the simhash lesson from r14.
    val tf = df
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("__id", "term").agg(count("*").as("tf"))
    val dfreq = tf.groupBy("term").agg(count("*").as("df"))
    val nDocs = broadcast(df.agg(count("*").as("__n")))
    val idfQ = floor((log((col("__n") + 1).cast("double") /
        (col("df") + 1).cast("double")) + lit(1.0)) * lit(1e6) + lit(0.5)).cast("long")
    val scored = tf.join(dfreq, "term").crossJoin(nDocs)
      .select(col("__id"), col("term"), col("tf"), col("df"),
        (col("tf") * idfQ).as("__score_q"))
    val w = Window.partitionBy("__id")
      .orderBy(col("__score_q").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__id").as(idCol), col("rank"), col("term"), col("tf"), col("df"),
        graft.functions.MathFunctions.roundTo(
          col("__score_q").cast("double") / lit(1e6), 6).as("tfidf"))
  }

  /** Linear hashed-feature classifier scoring — the shape of
    * fastText-style model-based quality filtering (Joulin et al.
    * 2017; the DCLM/DataComp-LM quality-classifier gate): each
    * document's unigrams and bigrams hash into `numBuckets` feature
    * buckets, and the document's logit is the sum of the model's
    * per-bucket weights. The model arrives as a `(bucket, weight_q)`
    * DataFrame with weights pre-quantized to 1e-6 integers — so the
    * per-doc aggregation is an exact integer sum, immune to float
    * summation order and bit-replicable in any engine.
    *
    * Sigmoid is monotone, so `keep` thresholds the raw integer logit
    * directly (`thresholdQ`, default 0 = sigmoid 0.5); `clf_score` is
    * the mean per-feature weight (length-invariant, rounded with the
    * portable floor-form).
    *
    * Scale shape: the MODEL (≤ numBuckets rows) collapses to a
    * single map row and rides a broadcast cross join, exactly like
    * [[lmScore]]'s vocab scalar; the DATA path is a narrow scan —
    * features are hashed, looked up, and summed with higher-order
    * functions inside the row, so no per-token row ever exists, let
    * alone shuffles. One model-sized funnel, zero data-sized ones.
    */
  /** Per-document token Shannon entropy — the information-density
    * quality gate (low entropy = repeated-token degenerate text, e.g.
    * SEO keyword stuffing; used alongside the Gopher repetition
    * signals). H = Σ_t (c_t/n)·ln(n/c_t) over the doc's distinct
    * tokens, in nats.
    *
    * Engine-portable by construction: each distinct token's term is
    * quantized to a 1e-6 integer BEFORE the per-doc sum (a 1-ulp `ln`
    * disagreement across engines is ~1e-9 at this magnitude, three
    * orders below the step), so the aggregation is an exact integer
    * sum — the same convention as [[tfidfKeywords]]' idf.
    *
    * Scale shape: tokens shuffle as 8-byte portable hashes keyed by
    * (doc, hash) into ONE map-side-combined count, then a doc-keyed
    * sum — no windows, no raw-token shuffle, no collects. Hash
    * collisions merge the same pair of tokens on every engine, so the
    * oracle is unaffected.
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(normalizeText(col(textCol)), " ")
    val toksSafe = when(length(trim(col(textCol))) === 0,
      lit(Array.empty[String])).otherwise(toks)
    val occ = df.select(col(idCol).as("__id"), explode(toksSafe).as("__t"))
      .select(col("__id"), graft.operators.Dedup.portableHash60(col("__t")).as("__h"))
    val cnt = occ.groupBy("__id", "__h").agg(count("*").as("__c"))
    val tot = cnt.groupBy("__id").agg(
      sum("__c").as("__n"), count("*").as("__distinct"))
    val termQ = floor(
      (col("__c").cast("double") / col("__n").cast("double")) *
        log(col("__n").cast("double") / col("__c").cast("double")) *
        lit(1e6) + lit(0.5)).cast("long")
    val perDoc = cnt.join(tot, "__id")
      .withColumn("__q", termQ)
      .groupBy("__id").agg(
        max("__n").as("n_tokens"), max("__distinct").as("n_distinct"),
        sum("__q").as("entropy_q"))
    df.select(col(idCol))
      .join(perDoc.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("entropy_q"), lit(0L)).as("entropy_q"))
      .withColumn("entropy", graft.functions.MathFunctions.roundTo(
        col("entropy_q").cast("double") / lit(1e6), 4))
  }

  def classifierScore(df: DataFrame, idCol: String, textCol: String,
                      weights: DataFrame, numBuckets: Int = 65536,
                      thresholdQ: Long = 0L): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    // The weight model is config-sized by contract (hashed buckets),
    // so it becomes a DENSE bucket-indexed PLAN LITERAL — the same
    // treatment as PQ codebooks and k-means centroids. Array-literal
    // indexing is O(1) per feature; the previous broadcast-map form
    // paid a LINEAR key scan per lookup (`element_at` on a Spark map
    // scans its entries — measured 34 s at sf0.1 with 4 096 buckets).
    // Models too large to collect should switch to the explode +
    // broadcast-join shape instead.
    val dense = new Array[Long](numBuckets)
    // Duplicate bucket rows would make the score depend on collect()
    // order (last-write-wins); the previous map_from_arrays form failed
    // loudly on duplicates (Spark's map-key dedup policy defaults to
    // EXCEPTION) and this form must be no weaker.
    val seen = new java.util.BitSet(numBuckets)
    weights.select(col("bucket").cast("int"), col("weight_q").cast("long"))
      .collect()
      .foreach { r =>
        val b = r.getInt(0)
        require(b >= 0 && b < numBuckets,
          s"weight bucket $b outside [0, $numBuckets)")
        require(!seen.get(b), s"duplicate weight bucket $b in model frame")
        seen.set(b)
        dense(b) = r.getLong(1)
      }
    val toks = split(normalizeText(col(textCol)), " ")
    val nTok = when(length(trim(col(textCol))) === 0, lit(0)).otherwise(size(toks))
    // one native featurize-and-score pass
    // ([[graft.plans.ClassifierLogitExpr]], weights as a plan
    // literal): unigram + bigram buckets with the portable md5-60
    // kernel folded against the dense weight vector in a single
    // compiled loop — the per-element interpreted md5→hex→conv chain
    // plus a per-feature map scan (and before that an index-transform
    // capturing `toks`, the winnowing-class O(tokens²) pitfall)
    // priced this step in tens of seconds at sf0.1
    val scoredRow = {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      when(nTok > 0,
          column(graft.plans.ClassifierLogitExpr(expression(toks), dense.toSeq)))
        .otherwise(struct(lit(0L).as("n_features"), lit(0L).as("logit_q")))
    }
    df.select(col(idCol), scoredRow.as("__s"))
      .select(col(idCol),
        col("__s.n_features").as("n_features"),
        col("__s.logit_q").as("logit_q"))
      .select(col(idCol), col("n_features"), col("logit_q"),
        when(col("n_features") === 0, lit(0.0)).otherwise(
          graft.functions.MathFunctions.roundTo(
            col("logit_q").cast("double") / (col("n_features").cast("double") * lit(1e6)), 6))
          .as("clf_score"),
        (col("logit_q") > thresholdQ).as("keep"))
  }

  /** PMI collocation mining: the top-k token pairs by pointwise
    * mutual information `ln(N·c_ab / (c_a·c_b))` over per-document
    * co-occurrence — the classic corpus-analysis pass for fixed
    * phrases, named entities, and boilerplate vocabulary.
    *
    * Skew control: each document contributes at most `capPerDoc`
    * DISTINCT tokens (the alphabetically first, a deterministic and
    * engine-portable cap), so a 10^6-token document yields the same
    * ≤ capPerDoc·(capPerDoc−1)/2 pairs as a modest one. Pairs are
    * generated IN-ROW with higher-order functions (ordered nested
    * slices, a < b by token order) and shuffle as slim
    * (token_a, token_b) rows into ONE map-side-combined count;
    * marginals reuse the same capped token sets, so the PMI
    * numerator/denominator are consistent by construction.
    *
    * Determinism: c_a, c_b, c_ab, and N are exact integers;
    * `N·c_ab / (c_a·c_b)` is one IEEE division of two exact
    * (< 2^53) products, and the single `ln` is quantized to 1e-6
    * integers — magnitude ≤ ln N, so a 1-ulp cross-engine `ln`
    * disagreement (~1e-15 relative) sits orders below the step.
    * Selection is the bounded top-k by (pmi_q desc, pair asc) —
    * TakeOrderedAndProject, never a global sort.
    */
  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
               minCount: Int = 2, capPerDoc: Int = 20, k: Int = 50): DataFrame = {
    require(minCount >= 1 && capPerDoc >= 2 && k >= 1,
      s"bad params: minCount=$minCount capPerDoc=$capPerDoc k=$k")
    // alphabetically-first capPerDoc distinct tokens, in order
    val capped = df.select(col(idCol).as("__id"),
      slice(array_sort(array_distinct(
        filter(tokens(col(textCol)), t => t =!= ""))), 1, capPerDoc).as("toks"))
    val nDocs = broadcast(capped.agg(count("*").as("__n")))
    // in-row ordered pairs: toks is sorted, so (i < j) ⇒ a < b
    val pairs = capped.select(col("__id"),
      explode(flatten(transform(col("toks"), (a, i) =>
        transform(slice(col("toks"), i + 2, lit(capPerDoc)),
          b => struct(a.as("a"), b.as("b")))))).as("p"))
      .select(col("__id"), col("p.a"), col("p.b"))
    val cAB = pairs.groupBy("a", "b").agg(count("*").as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val cTok = capped.select(explode(col("toks")).as("t"))
      .groupBy("t").agg(count("*").as("c"))
    val scored = cAB
      .join(cTok.select(col("t").as("a"), col("c").as("c_a")), "a")
      .join(cTok.select(col("t").as("b"), col("c").as("c_b")), "b")
      .crossJoin(nDocs)
      .withColumn("pmi_q",
        floor(log((col("__n") * col("c_ab")).cast("double") /
          (col("c_a") * col("c_b")).cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
    scored
      .orderBy(col("pmi_q").desc, col("a").asc, col("b").asc)
      .limit(k)
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        graft.functions.MathFunctions.roundTo(
          col("pmi_q").cast("double") / lit(1e6), 6).as("pmi"))
  }

  /** BM25 keyword search over the corpus (Robertson & Zaragoza 2009,
    * the Okapi BM25 ranking function with the "+1" idf variant that
    * keeps every term's contribution positive): score(d) =
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), ranked
    * top-`k` — the retrieval primitive behind corpus search,
    * RAG-store indexing, and query-based curation.
    *
    * Cross-engine determinism: idf(t) = ln((N−df+0.5)/(df+0.5) + 1)
    * algebraically equals ln((2N+2)/(2df+1)) — ONE ln of an exact
    * integer ratio, quantized to 1e-6 integers; each (doc, term)
    * contribution is a fixed-shape IEEE expression over exact
    * integers (tf, dl, the quantized idf, and avgdl as the exact
    * ratio totalTokens/N), quantized to 1e-6 integers BEFORE the
    * per-doc sum — so doc scores are exact integers and the top-k
    * cut is engine-portable ((score desc, id asc) tie-break).
    *
    * Scale shape: tokens are filtered to the query's terms AT THE
    * SCAN, so only matching postings — a |terms|-bounded sliver of
    * the corpus — ever reach the (doc, term) count shuffle; document
    * frequencies aggregate to |terms| rows and the corpus-wide
    * (N, totalTokens) to ONE row, both broadcast back; selection is
    * bounded top-k (TakeOrderedAndProject), never a global sort.
    */
  def bm25Search(df: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k: Int = 20,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val toks = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("__toks"))
      .select(col("doc"), size(col("__toks")).cast("long").as("dl"),
        filter(col("__toks"), t => t.isin(terms: _*)).as("__hits"))
    // ONE row: corpus size + total token count (avgdl = total/n exact)
    val stats = broadcast(toks.agg(count("*").as("__n"), sum("dl").as("__tot")))
    // postings: only query-term hits explode — slim by construction
    val tf = toks.filter(size(col("__hits")) > 0)
      .select(col("doc"), col("dl"), explode(col("__hits")).as("term"))
      .groupBy("doc", "dl", "term").agg(count("*").as("tf"))
    // |terms|-row document frequencies → quantized idf, broadcast back
    val dfT = broadcast(tf.groupBy("term").agg(count("*").as("df_t"))
      .crossJoin(stats)
      .withColumn("idf_q", floor(log((lit(2L) * col("__n") + lit(2L)).cast("double") /
        (lit(2L) * col("df_t") + lit(1L)).cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
      .select(col("term"), col("idf_q")))
    val contrib = tf.join(dfT, "term").crossJoin(stats)
      .withColumn("__denom", col("tf").cast("double") + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("dl").cast("double") * col("__n").cast("double") /
          col("__tot").cast("double")))
      .withColumn("__c_q", floor((col("idf_q").cast("double") / lit(1e6)) *
        (col("tf").cast("double") * lit(k1 + 1.0)) / col("__denom") * lit(1e6) +
        lit(0.5)).cast("long"))
    contrib.groupBy("doc").agg(sum("__c_q").as("__score_q"))
      .orderBy(col("__score_q").desc, col("doc").asc)
      .limit(k)
      .select(col("doc").as(idCol),
        graft.functions.MathFunctions.roundTo(
          col("__score_q").cast("double") / lit(1e6), 6).as("bm25"))
  }

  /** Inverted-index build with BOUNDED per-term state: for every term
    * above `minDf` document frequency, the exact df plus the
    * `maxPostings` LOWEST doc ids as a sample posting list — the
    * index-construction half of corpus search (the [[bm25Search]]
    * runtime recomputes postings per query; this materializes them).
    * Output is flattened to (term, df_count, slot, doc_id) scalar
    * rows, slot = 0-based rank of the doc id within the sample.
    *
    * Scale shape: per-doc DISTINCT terms explode into slim
    * (term, doc) longs; ONE aggregation keyed by term computes df and
    * the sample TOGETHER — the posting sample uses the k-bounded
    * [[graft.plans.BottomKLongs]] heap, so a stopword appearing in
    * 10^10 documents ships ≤ maxPostings ids per partition instead of
    * a 10^10-element collect_list (the classic index-build skew bomb).
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int = 32, minDf: Int = 2): DataFrame = {
    require(maxPostings >= 2, s"maxPostings=$maxPostings must be >= 2")
    require(minDf >= 1, s"minDf=$minDf must be >= 1")
    val postings = df.select(col(idCol).as("doc"),
        explode(array_distinct(filter(tokens(col(textCol)), t => t =!= ""))).as("term"))
    postings.groupBy("term")
      .agg(count("*").as("df_count"),
        graft.plans.BottomKLongs.bottomK(col("doc"), maxPostings).as("__docs"))
      .filter(col("df_count") >= minDf)
      .select(col("term"), col("df_count"),
        posexplode(col("__docs")).as(Seq("slot", "doc_id")))
  }

  /** N-gram novelty scoring (data-selection signal): per document, the
    * fraction of its distinct word n-grams whose FIRST corpus
    * occurrence (minimum doc id) is this document — high-novelty docs
    * contribute new content, near-zero-novelty docs are re-treads of
    * earlier material even when no single pair crosses a near-dup
    * threshold. The aggregate contribution measure used by
    * data-pruning pipelines alongside pairwise dedup.
    *
    * Scale shape: the gram-sized frame is aggregated twice and NEVER
    * rejoined on the gram key — per-doc gram counts are one doc-keyed
    * map-side-combined count, and per-doc NOVEL counts fall out of
    * the (gram → min id) ownership aggregation rolled up by owner
    * (both outputs are doc-cardinality, tiny next to the gram frame);
    * one per-doc equi-join assembles them. The gram string is dropped
    * at the scan: grams shuffle as 8-byte portable hashes
    * ([[graft.operators.Dedup.portableHash60]], the same convention as
    * [[tokenEntropy]]), so the dominant shuffle carries (long, long)
    * rows instead of raw n-gram strings — a hash collision merges the
    * same pair of grams on every engine, so the oracle is unaffected.
    * Ownership is deterministic (min id). Returns
    * (id, n_grams, n_novel, novelty) with novelty quantized at 1e-6.
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3): DataFrame = {
    val g = df.select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.wordShingles(col(textCol), shingleSize)).as("g"))
      .select(col("id"), graft.operators.Dedup.portableHash60(col("g")).as("h"))
    val perDoc = g.groupBy("id").agg(count("*").as("n_grams"))
    val novel = g.groupBy("h").agg(min("id").as("first_id"))
      .groupBy("first_id").agg(count("*").as("n_novel"))
      .withColumnRenamed("first_id", "id")
    perDoc.join(novel, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        graft.functions.MathFunctions.roundTo(
          coalesce(col("n_novel"), lit(0L)).cast("double") /
            col("n_grams").cast("double"), 6).as("novelty"))
  }

  /** Domain-level curation rollup (the RefinedWeb/DCLM-style source
    * filter): a domain whose documents are mostly exact duplicates of
    * each other or mostly near-empty is boilerplate/spam wholesale,
    * and per-document filters miss it — each individual page can look
    * fine. Per source: doc count, exact-dup fraction (1 − distinct
    * fingerprints ÷ docs), short-doc fraction (n_tokens < minTokens);
    * verdict `flag` when the domain has ≥ minDocs docs AND either
    * fraction exceeds its threshold, else `keep`. Every document is
    * tagged with its domain's verdict (tag-don't-drop, the house
    * filter semantics).
    *
    * Scale shape: docs reduce to (src, fingerprint) 16-byte-keyed
    * rows; ONE two-level aggregation — (src, fp) map-side-combined
    * counts, then a src-keyed rollup — yields the domain table
    * (domain-cardinality, tiny), which broadcasts back onto the doc
    * scan. No windows, no self-joins; a 10^8-page domain costs one
    * combined count like a 10-page one. Fractions are single IEEE
    * divisions of exact longs; verdict compares the quantized value,
    * so the tag is engine-portable.
    */
  def domainQuality(df: DataFrame, idCol: String, sourceCol: String, textCol: String,
                    minTokens: Int = 20, minDocs: Int = 3,
                    dupFracMax: Double = 0.5, shortFracMax: Double = 0.5): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    val rd = graft.functions.MathFunctions.roundTo _
    // persisted: the slim (id, src, n_tokens, fp) frame feeds both the
    // domain aggregation and the tag-back probe side; without the
    // cache each branch column-prunes its own parquet scan and the
    // full TEXT column is read + fingerprinted twice. One scan, then
    // the checkpointed doc-sized result frees the cache.
    val doc = df.select(col(idCol).as("id"), col(sourceCol).as("src"),
      graft.functions.TextFunctions.tokenCount(col(textCol)).as("n_tokens"),
      graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"))
    CheckpointBridge.localCheckpointOver(doc) { doc =>
      val byFp = doc.groupBy("src", "fp").agg(
        count("*").as("cnt"),
        sum(when(col("n_tokens") < minTokens, 1L).otherwise(0L)).as("short_cnt"))
      val dom = byFp.groupBy("src").agg(
          sum("cnt").as("n_docs"),
          count("*").as("n_distinct"),
          sum("short_cnt").as("n_short"))
        .select(col("src"), col("n_docs"),
          rd((col("n_docs") - col("n_distinct")).cast("double") /
            col("n_docs").cast("double"), 6).as("dup_frac"),
          rd(col("n_short").cast("double") / col("n_docs").cast("double"), 6)
            .as("short_frac"))
        .withColumn("domain_verdict",
          when(col("n_docs") >= minDocs &&
              (col("dup_frac") > dupFracMax || col("short_frac") > shortFracMax),
            lit("flag")).otherwise(lit("keep")))
      doc.join(broadcast(dom), Seq("src"))
        .select(col("id").as(idCol), col("src").as(sourceCol), col("n_tokens"),
          col("n_docs"), col("dup_frac"), col("short_frac"), col("domain_verdict"))
    }
  }

  /** Per-document readability scoring — the Flesch reading-ease
    * variant every text-curation stack runs to bucket corpora by
    * audience (a "legal boilerplate vs children's stories" axis the
    * length/stopword quality filters can't see). Heuristic inputs,
    * stated exactly so an external engine replays them:
    * words = house whitespace tokens over the normalized text;
    * sentences = runs of `[.!?]` (min 1); syllables = runs of
    * `[aeiouy]` in the lowercased text (the standard vowel-group
    * approximation). flesch = 206.835 − 1.015·(w/s) − 84.6·(syl/w),
    * null for empty documents. The band thresholds (60/30 —
    * easy/medium/hard) compare the 1e-6-QUANTIZED score, so both
    * engines band the same value and the cut is reproducible.
    *
    * Scale shape: pure scan-side expressions (three regex counters +
    * fixed IEEE arithmetic), zero shuffles beyond the output order —
    * pipelines into any downstream filter at scan speed.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rd = graft.functions.MathFunctions.roundTo _
    val toks = split(normalizeText(col(textCol)), " ")
    val w = when(length(trim(col(textCol))) === 0, lit(0L))
      .otherwise(size(toks).cast("long"))
    val s = greatest(regexp_count(col(textCol), lit("[.!?]+")).cast("long"), lit(1L))
    val syl = regexp_count(lowerText(col(textCol)), lit("[aeiouy]+")).cast("long")
    val flesch = rd(lit(206.835) -
      lit(1.015) * (w.cast("double") / s.cast("double")) -
      lit(84.6) * (syl.cast("double") / w.cast("double")), 6)
    df.select(col(idCol).as("doc_id"), w.as("n_words"), s.as("n_sentences"),
        syl.as("n_syllables"),
        when(w > 0L, flesch).as("flesch"),
        when(w === 0L, "empty")
          .when(flesch >= 60.0, "easy")
          .when(flesch >= 30.0, "medium")
          .otherwise("hard").as("band"))
      .orderBy("doc_id")
  }

  /** Per-document code-vs-prose detection — the curation router that
    * keeps source code out of a prose corpus (and vice versa), where
    * a misrouted 10% of code silently reshapes a language model's
    * token distribution. Counts four line/character signals and
    * applies integer-exact threshold rules, tag-don't-drop:
    *  - symbol density: `{}();=<>[]` characters per char;
    *  - indented lines: leading two spaces or a tab;
    *  - code line endings: rtrimmed line ends with `;`, `{` or `}`;
    *  - keyword hits: `\b(def|class|return|import|function|void|int)\b`
    *    in the lowercased text.
    * verdict = `code` when symbols ≥ 3% of chars (compared as
    * `sym·1000 ≥ chars·30` — exact longs, no IEEE quotient) OR when
    * ≥30% of lines are indented AND ≥20% end like statements;
    * otherwise `prose`. Empty docs are `empty`.
    *
    * Scale shape: pure scan-side expressions (regex counter, one
    * split + two list filters, integer compares) — zero shuffles
    * beyond the output order.
    */
  def codeDetect(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val nChars = length(col(textCol)).cast("long")
    val nLines = size(lines).cast("long")
    val sym = regexp_count(col(textCol), lit("[{}();=<>\\[\\]]")).cast("long")
    val indent = size(filter(lines,
      l => l.startsWith("  ") || l.startsWith("\t"))).cast("long")
    val eol = size(filter(lines, l => {
      val r = rtrim(l)
      r.endsWith(";") || r.endsWith("{") || r.endsWith("}")
    })).cast("long")
    val kw = regexp_count(lowerText(col(textCol)),
      lit("\\b(def|class|return|import|function|void|int)\\b")).cast("long")
    df.select(col(idCol).as("doc_id"), nChars.as("n_chars"), nLines.as("n_lines"),
        sym.as("sym_count"), indent.as("indent_lines"), eol.as("eol_code_lines"),
        kw.as("kw_hits"),
        when(length(trim(col(textCol))) === 0, "empty")
          .when(sym * 1000L >= nChars * 30L, "code")
          .when(indent * 10L >= nLines * 3L && eol * 10L >= nLines * 2L, "code")
          .otherwise("prose").as("verdict"))
      .orderBy("doc_id")
  }

  /** Cross-document line-level boilerplate detection — the
    * CCNet/RefinedWeb line-dedup step: a LINE whose (trimmed) content
    * appears in at least `minDocs` DISTINCT documents is template
    * furniture (nav bars, cookie banners, footers), not content, and
    * per-document or token-gram filters can't see it. Returns one row
    * per document: line counts, the boilerplate fraction, and the md5
    * of the text with flagged lines removed (kept lines joined by
    * `\n` in original order) — the narrow fingerprint downstream
    * exact-dedup runs on instead of the full cleaned payload.
    * Blank (whitespace-only) lines are structure, never counted or
    * stripped.
    *
    * Scale shape: lines shuffle as 8-byte portable hashes (house
    * convention); the docs-per-line count is DISTINCT (doc, hash)
    * first, then a map-side combined count, so a line repeated 10⁶
    * times inside one page costs one row; flagged hashes join back to
    * the slim (doc, pos, hash) occurrence frame and collapse to one
    * bounded position set per document (≤ the document's own line
    * count — the same per-doc boundedness as the text itself). The
    * reassembly is a scan-side indexed array filter, no second text
    * shuffle.
    */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2")
    val rd = graft.functions.MathFunctions.roundTo _
    val lines = split(col(textCol), "\n")
    // trim spaces AND tabs for the line identity — plain trim() strips
    // only 0x20 on both engines and an indented-with-tabs nav bar
    // would silently stop matching its space-indented twin
    val occ = df.select(col(idCol).as("__id"), posexplode(lines).as(Seq("__pos", "__l")))
      .filter(length(trim(col("__l"), " \t")) > 0)
      .select(col("__id"), col("__pos"),
        graft.operators.Dedup.portableHash60(trim(col("__l"), " \t")).as("__h"))
    // distinct (doc, hash) BEFORE counting: within-doc repetition of a
    // line must not inflate its document frequency
    val flagged = occ.select("__id", "__h").distinct()
      .groupBy("__h").agg(count("*").as("__c"))
      .filter(col("__c") >= minDocs.toLong).select("__h")
    val bp = occ.join(flagged, "__h")
      .groupBy("__id").agg(sort_array(collect_set(col("__pos"))).as("__bp"))
    df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .join(bp, col("doc_id") === col("__id"), "left")
      .select(col("doc_id"),
        size(split(col("__t"), "\n")).cast("long").as("n_lines"),
        coalesce(size(col("__bp")), lit(0)).cast("long").as("n_boilerplate"),
        rd(coalesce(size(col("__bp")), lit(0)).cast("double") /
          size(split(col("__t"), "\n")).cast("double"), 6).as("boilerplate_frac"),
        md5(array_join(filter(split(col("__t"), "\n"),
          (l, i) => !array_contains(coalesce(col("__bp"), lit(Array.empty[Int])), i)),
          "\n")).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** Corpus-level Zipf / vocabulary statistics — the distributional
    * health check run on a text corpus before training: natural
    * language obeys a power law (token frequency ∝ rank^slope with
    * slope ≈ −1), and a corpus whose slope collapses toward 0
    * (near-uniform tokens: hashes, ids, boilerplate tables) or whose
    * top-1 token share explodes (template spam) was mis-curated in a
    * way no per-document filter can see. Returns ONE row:
    * (n_tokens, vocab_size, top1_count, top1_share, zipf_slope)
    * where zipf_slope is the least-squares slope of ln(count) on
    * ln(rank) over the `topN` most frequent tokens (the head is
    * where the power law lives; the tail is measurement noise).
    *
    * Determinism/portability: tokens shuffle as 8-byte portable
    * hashes (the house `txt_entropy` convention — the accepted
    * collision trade, identical on the oracle side); the top-N
    * selection orders by (count desc, hash asc) — a total order, so
    * ties are stable; both regression coordinates quantize to 1e-6
    * integers BEFORE the sums, making Σx, Σy, Σxy, Σx² exact longs
    * (topN ≤ 10^4 keeps Σxy < 2^53), and the slope is one
    * fixed-shape IEEE expression over them, 1e-6-quantized.
    *
    * Scale shape: one explode + ONE map-side-combined count keyed by
    * the 8-byte hash (the only data-sized shuffle); the top-N is a
    * TakeOrderedAndProject (per-partition bounded heaps, never a
    * full sort); vocabulary totals roll up the count table
    * map-side; the regression runs over topN rows on one partition.
    */
  def zipfStats(df: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    require(topN >= 2, s"topN=$topN must be >= 2 (a slope needs two points)")
    require(topN <= 10000, s"topN=$topN must be <= 10000 (exact-integer sum bound)")
    val rd = graft.functions.MathFunctions.roundTo _
    val toks = split(normalizeText(col(textCol)), " ")
    val toksSafe = when(length(trim(col(textCol))) === 0,
      lit(Array.empty[String])).otherwise(toks)
    val occ = df.select(explode(toksSafe).as("__t"))
      .select(graft.operators.Dedup.portableHash60(col("__t")).as("__h"))
    // persisted: the vocab-sized count table feeds both the totals
    // and the top-N branches, which prune it differently — without
    // the cache ReuseExchange misses and the corpus is tokenized
    // twice (the evt_rfm re-scan class)
    val cnt = occ.groupBy("__h").agg(count("*").as("__c"))
    CheckpointBridge.localCheckpointOver(cnt) { cnt =>
      val tot = cnt.agg(sum("__c").as("n_tokens"), count("*").as("vocab_size"),
        max("__c").as("top1_count"))
      // bounded-heap top-N, total order (count desc, hash asc)
      val top = cnt.orderBy(col("__c").desc, col("__h").asc).limit(topN)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("__c").desc, col("__h").asc)
      val reg = top
        .select(col("__c"), row_number().over(w).as("__r"))
        .select(
          floor(log(col("__r").cast("double")) * lit(1e6) + lit(0.5)).cast("long").as("__x"),
          floor(log(col("__c").cast("double")) * lit(1e6) + lit(0.5)).cast("long").as("__y"))
        .agg(count("*").as("__n"), sum("__x").as("__sx"), sum("__y").as("__sy"),
          sum(col("__x") * col("__y")).as("__sxy"),
          sum(col("__x") * col("__x")).as("__sxx"))
        .select({
          val den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
          // den = 0 ⟺ fewer than 2 regression points (degenerate corpus)
          when(den =!= 0L,
            (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
              den.cast("double")).as("__slope")
        })
      tot.crossJoin(reg) // two one-row frames
        .select(coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          col("vocab_size"), col("top1_count"),
          rd(col("top1_count").cast("double") / col("n_tokens").cast("double"), 6)
            .as("top1_share"),
          rd(col("__slope"), 6).as("zipf_slope"))
    }
  }
}
