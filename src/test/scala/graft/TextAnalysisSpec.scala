package graft

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("chunkDedup flags repeats of earlier (doc, position) chunks, globally") {
    val docs = Seq(
      (1L, "a b c d e f"),       // "a b c", "d e f" — both first
      (2L, "a b c x y z"),       // "a b c" repeats doc 1; "x y z" first
      (3L, "a b c a b c"),       // both positions repeat doc 1's first chunk
      (4L, "sh ort")             // < 3 tokens: zero chunks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDedup(docs, "doc_id", "text", chunkSize = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 0L, 0.0),
      (2L, 2L, 1L, 0.5),
      (3L, 2L, 2L, 1.0),
      (4L, 0L, 0L, 0.0)))
  }

  test("chunkDedup: within-doc first occurrence wins over later docs") {
    // the SAME chunk twice in doc 10: position 0 is the global first,
    // position 1 is a dup; doc 11's copy is also a dup
    val docs = Seq(
      (10L, "p q r p q r"),
      (11L, "p q r z z z")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDedup(docs, "doc_id", "text", chunkSize = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((10L, 2L, 1L), (11L, 2L, 1L)))
  }

  test("c4Filters: each heuristic fires on its planted document") {
    val good = ("the quick brown fox jumps over a lazy dog " * 10).trim // 90 toks, stopwords, clean
    val docs = Seq(
      (1L, good),
      (2L, "tiny doc"),                                  // too_short (+no stopwords)
      (3L, good + " {code}"),                            // brace
      (4L, good + " lorem ipsum dolor"),                 // lorem
      (5L, ("zz " * 60).trim)                            // no stopwords + short mean len
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Filters(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    def flags(i: Int) = {
      val r = out(i)
      (r.getAs[Boolean]("flag_too_short"), r.getAs[Boolean]("flag_no_stopwords"),
       r.getAs[Boolean]("flag_brace"), r.getAs[Boolean]("flag_lorem"),
       r.getAs[Boolean]("keep"))
    }
    assert(flags(0) == ((false, false, false, false, true)), "clean doc keeps")
    assert(flags(1)._1 && !flags(1)._5, "short doc flagged, dropped")
    assert(flags(2)._3 && !flags(2)._5, "brace flagged")
    assert(flags(3)._4 && !flags(3)._5, "lorem ipsum flagged")
    assert(flags(4)._2 && !flags(4)._5, "stopword-free doc flagged")
    // mean word length sanity: "zz" repeated -> exactly 2.0
    assert(out(4).getAs[Boolean]("flag_word_length"))
    assert(out(4).getAs[Double]("mean_word_len") == 2.0)
  }

  test("substringDedup merges overlapping duplicated 5-grams into maximal spans") {
    // an 8-token block shared by docs 1 and 2 (different offsets):
    // 4 duplicated gram positions each, merging into ONE 8-token span
    val block = "b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      (1L, s"u1 u2 $block u3 u4"),
      (2L, s"v1 v2 v3 $block v4"),
      (3L, "x1 x2 x3 x4 x5"),                  // 1 gram, globally unique
      (4L, "s t"),                             // shorter than one gram
      (5L, "r1 r2 r3 r4 r5 m r1 r2 r3 r4 r5")  // WITHIN-doc repeat: 2 islands
    ).toDF("doc_id", "text")
    val out = TextAnalysis.substringDedup(docs, "doc_id", "text", gramSize = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (1L, 8L, 4L, 1L, 8L, 0.5),
      (2L, 8L, 4L, 1L, 8L, 0.5),
      (3L, 1L, 0L, 0L, 0L, 0.0),
      (4L, 0L, 0L, 0L, 0L, 0.0),
      (5L, 7L, 2L, 2L, 5L, 0.285714)))
  }

  test("substringStrip removes every duplicated window except the global first") {
    val block = "b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      (1L, s"u1 u2 $block u3 u4"),                // owns the block: untouched
      (2L, s"v1 v2 v3 $block v4"),                // loses the whole block
      (3L, "x1 x2 x3 x4 x5"),                     // unique: untouched
      (4L, "S  T"),                               // sub-gram; normalized only
      (5L, "r1 r2 r3 r4 r5 m r1 r2 r3 r4 r5"),    // within-doc repeat
      (6L, "a a a a a a a")                       // degenerate: one token survives
    ).toDF("doc_id", "text")
    val out = TextAnalysis.substringStrip(docs, "doc_id", "text", gramSize = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, s"u1 u2 $block u3 u4", 0L),
      (2L, "v1 v2 v3 v4", 8L),
      (3L, "x1 x2 x3 x4 x5", 0L),
      (4L, "s t", 0L),
      (5L, "r1 r2 r3 r4 r5 m", 5L),
      (6L, "a", 6L)))
  }

  test("classifierScore: exact integer logits, planted-token veto, empty text") {
    import org.apache.spark.sql.functions.{col, lit}
    val nBuckets = 4096
    // same 60-bit md5 hash the operator uses, computed independently
    def bucket(feat: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(feat.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % nBuckets
    }
    val spamB = bucket("u:spam")
    val docs = Seq(
      (1L, "good text here"),        // 3 uni + 2 bi = 5 features
      (2L, "buy spam now"),          // contains the veto token
      (3L, "   ")                    // whitespace-only: zero features
    ).toDF("doc_id", "text")
    // every bucket weighs +1 except the spam unigram's, which vetoes
    val weights = spark.range(nBuckets).select(
      col("id").as("bucket"),
      org.apache.spark.sql.functions.when(col("id") === spamB, lit(-1000000L))
        .otherwise(lit(1L)).as("weight_q"))
    val out = TextAnalysis.classifierScore(docs, "doc_id", "text", weights, nBuckets)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    // doc 1: 5 features, all +1 (unless a feature collides with spam's
    // bucket — none of these do); doc 2: 4 features at +1, one at -1e6
    assert(out(0) == ((1L, 5L, 5L, 0.000001, true)))
    assert(out(1) == ((2L, 5L, -999996L, -0.199999, false)))
    assert(out(2) == ((3L, 0L, 0L, 0.0, false)))
  }

  test("classifierScore: duplicate weight buckets fail loudly, not last-write-wins") {
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "some text")).toDF("doc_id", "text")
    // bucket 7 appears twice with different weights: collect() order
    // must never silently decide the model
    val dup = Seq((7L, 1L), (7L, 2L), (8L, 3L)).toDF("bucket", "weight_q")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.classifierScore(docs, "doc_id", "text", dup, numBuckets = 16)
    }
    assert(e.getMessage.contains("duplicate weight bucket 7"), e.getMessage)
    // non-duplicate sparse models still load fine
    val ok = Seq((7L, 1L), (8L, 3L)).toDF("bucket", "weight_q")
    assert(TextAnalysis.classifierScore(docs, "doc_id", "text", ok, numBuckets = 16)
      .filter(col("doc_id") === 1L).count() === 1L)
  }

  test("ngramNovelty: min-id ownership, hand-computed fractions, full-overlap zero") {
    // 2-gram shingles. doc 1: {a b, b c} — owns both (novelty 1).
    // doc 2: {b c, c d} — owns only "c d" (novelty 0.5).
    // doc 3: {a b, b c} — owns nothing (novelty 0).
    val docs = Seq(
      (1L, "a b c"),
      (2L, "b c d"),
      (3L, "a b c")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, "doc_id", "text", shingleSize = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (1L, 2L, 2L, 1.0),
      (2L, 2L, 1L, 0.5),
      (3L, 2L, 0L, 0.0)))
  }

  test("tfidfKeywords: hand-computed scores, doc-local ranks, term tiebreak") {
    // N=3. df: common=3, rare=1, dup=1, solo=1
    val docs = Seq(
      (1L, "common rare common"),
      (2L, "common dup dup"),
      (3L, "common solo")
    ).toDF("doc_id", "text")
    def idfQ(df: Long): Long = math.floor((math.log(4.0 / (df + 1)) + 1.0) * 1e6 + 0.5).toLong
    val out = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    def s(tf: Long, df: Long): Double = tf * idfQ(df) / 1e6
    // doc1: rare tf1 df1 -> idf ln(2)+1; common tf2 df3 -> 2*(ln(1)+1)=2.0
    assert(out.toSeq == Seq(
      (1L, 1, "common", 2L, 3L, s(2, 3)),
      (1L, 2, "rare", 1L, 1L, s(1, 1)),
      (2L, 1, "dup", 2L, 1L, s(2, 1)),
      (2L, 2, "common", 1L, 3L, s(1, 3)),
      (3L, 1, "solo", 1L, 1L, s(1, 1)),
      (3L, 2, "common", 1L, 3L, s(1, 3))))
    // ties: two df-1 singleton terms in one doc rank by term string
    val tied = Seq((9L, "zeta alpha")).toDF("doc_id", "text")
    val tr = TextAnalysis.tfidfKeywords(tied, "doc_id", "text", k = 2)
      .orderBy("rank").collect().map(_.getString(2))
    assert(tr.toSeq == Seq("alpha", "zeta"))
  }

  test("htmlExtract: scripts/styles die whole, block structure survives, boilerplate lines gated") {
    val html =
      """<html><head><title>Ignore me</title>
        |<script>if (1 < 2) { alert("<p>not text</p>"); }</script>
        |<style>.x { color: red; }</style></head>
        |<body><div class="nav">Home | About | Contact</div>
        |<h1>A Real Headline Spanning Five Words</h1>
        |<p>This paragraph has plenty of real words to survive the gate.</p>
        |<p>Entities: a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;done here fine.</p>
        |<ul><li>item</li><li>thing</li></ul>
        |<div class="footer">&copy; 2026</div></body></html>""".stripMargin.replace("\n", "")
    val out = TextAnalysis.htmlExtract(Seq((1L, html)).toDF("id", "html"), "html")
      .collect()(0)
    val extracted = out.getAs[String]("extracted")
    val lines = extracted.split("\n")
    assert(lines.length == 3, s"3 surviving lines, got ${lines.toSeq}")
    assert(lines(0) == "A Real Headline Spanning Five Words")
    assert(lines(1) == "This paragraph has plenty of real words to survive the gate.")
    assert(lines(2) == "Entities: a & b <tag> \"q\" 's' done here fine.",
      s"entity unescape: ${lines(2)}")
    // script body (with its embedded '<p>') and style never leak
    assert(!extracted.contains("alert") && !extracted.contains("color"))
    // nav, title, short list items, footer all gated out
    assert(!extracted.contains("Home") && !extracted.contains("Ignore") &&
      !extracted.contains("item") && !extracted.contains("2026"))
    assert(out.getAs[Int]("n_lines_kept") == 3)
    assert(out.getAs[Int]("n_lines_total") > 3, "gated lines still counted in total")
    // an all-boilerplate page extracts to empty, not null
    val empty = TextAnalysis.htmlExtract(
      Seq((2L, "<html><body><div>Home | About</div></body></html>")).toDF("id", "html"), "html")
      .collect()(0)
    assert(empty.getAs[String]("extracted") == "" && empty.getAs[Int]("n_lines_kept") == 0)
  }

  test("lmScore: hand-computed add-one bigram means; repetition scores high") {
    // corpus: a:3 b:1 c:1 d:1 -> V=4; bigrams (a,a)x2, (b,c)x1
    // doc 1: p(a|a) = (2+1)/(3+4) -> q=428571429, mean .428571429
    // doc 2: p(c|b) = (1+1)/(1+4) = .4 exactly
    val docs = Seq((1L, "a a a"), (2L, "b c"), (3L, "d")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      (1L, 2L, 0.428571),
      (2L, 1L, 0.4),
      (3L, 0L, 0.0)))
    // fluency ordering on realistic text: degenerate repetition beats
    // a one-off token soup under the corpus's own bigram table
    val corpus = (Seq((10L, ("spam ham " * 40).trim)) ++
      (0 until 20).map(i => (20L + i, s"tok${i}a tok${i}b tok${i}c tok${i}d")))
      .toDF("doc_id", "text")
    val scores = TextAnalysis.lmScore(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(10L) > scores(20L) * 10,
      s"repetitive doc ${scores(10L)} should dwarf token-soup ${scores(20L)}")
  }

  test("tokenEntropy: hand-computed nats, degenerate and empty docs") {
    val docs = Seq(
      (1L, "a a a a"),   // one distinct token: H = 0
      (2L, "a b"),       // uniform over 2: H = ln 2
      (3L, ""),          // empty: all zero
      (4L, "x y y y")    // (1/4)ln4 + (3/4)ln(4/3)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // per-term q = floor((c/n)·ln(n/c)·1e6 + 0.5), summed exactly
    val q2 = math.floor(0.5 * math.log(2.0) * 1e6 + 0.5).toLong        // 346574
    val q4x = math.floor(0.25 * math.log(4.0) * 1e6 + 0.5).toLong      // 346574
    val q4y = math.floor(0.75 * math.log(4.0 / 3.0) * 1e6 + 0.5).toLong // 215762
    def ent(q: Long): Double = math.floor(q / 1e6 * 1e4 + 0.5) / 1e4
    assert(out.toSeq == Seq(
      (1L, 4L, 1L, 0L, 0.0),
      (2L, 2L, 2L, 2 * q2, ent(2 * q2)),
      (3L, 0L, 0L, 0L, 0.0),
      (4L, 4L, 2L, q4x + q4y, ent(q4x + q4y))))
  }

  test("lmScoreBy: each language scores against ITS OWN bigram table only") {
    val docs = Seq(
      (1L, "aa", "x y"), (2L, "aa", "x y"),  // aa: c(x,y)=2, c(x)=2, V=2
      (3L, "bb", "x y z")                     // bb: own counts, V=3
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.lmScoreBy(docs, "doc_id", "text", "lang")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // aa: p(y|x) = (2+1)/(2+2) = 0.75 — UNpolluted by bb's x/y counts
    assert(out(0) == ((1L, 1L, 0.75)) && out(1) == ((2L, 1L, 0.75)))
    // bb: p(y|x) = p(z|y) = (1+1)/(1+3) = 0.5
    assert(out(2) == ((3L, 2L, 0.5)))
    // the corpus-wide LM would mix the tables: same doc scores differ
    val global = TextAnalysis.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getDouble(2))
    assert(global(0) != 0.75, s"global LM must pool counts, got ${global.toSeq}")
  }

  test("winnowing: selection equals a direct reimplementation; gap guarantee holds") {
    import org.apache.spark.unsafe.types.UTF8String
    def h60(s: String): Long =
      graft.plans.TextExprs.md5Hash60(UTF8String.fromString(s))
    val toks = "the quick brown fox jumps over the lazy dog tonight".split(" ")
    val text = toks.mkString(" ")
    val gramSize = 2; val w = 3
    val hs = toks.sliding(gramSize).map(g => h60(g.mkString(" "))).toArray
    // reference robust winnowing: rightmost minimal hash per window
    val expectedPos = (0 to hs.length - w).map { i =>
      val win = hs.slice(i, i + w)
      val m = win.min
      i + win.lastIndexOf(m)
    }.distinct
    val expFps = expectedPos.map(hs)
    val out = TextAnalysis.winnowing(
        Seq((1L, text), (2L, ""), (3L, "too short")).toDF("doc_id", "text"),
        "doc_id", "text", gramSize, w)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == hs.length && out(0).getLong(2) == hs.length - w + 1)
    assert(out(0).getLong(3) == expFps.length, "distinct fingerprint count")
    assert(out(0).getLong(4) == expFps.min)
    assert(out(0).getLong(5) == expFps.fold(0L)(_ ^ _))
    // the winnowing guarantee: consecutive selections gap <= w
    assert(expectedPos.sorted.sliding(2).forall {
      case Seq(a, b) => b - a <= w; case _ => true })
    // empty text and < gramSize+w-1 tokens: all-zero summaries
    for (r <- Seq(out(1), out(2)))
      assert(r.getLong(2) == 0 && r.getLong(3) == 0 && r.getLong(4) == 0 && r.getLong(5) == 0)
  }

  test("winnowingPairs: shifted copy pairs (position-robust); bucket cap kills boilerplate") {
    val body = (0 until 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, body),
      (2L, "zz ww yy " + body),              // SHIFTED copy — chunk-aligned dedup misses this
      (3L, (100 until 130).map(i => s"oth$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowingPairs(docs, "doc_id", "text",
        gramSize = 5, w = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)),
      s"only the shifted copy pairs: ${pairs.toSeq}")
    assert(pairs(0)._3 >= 3, s"shifted copies share many fingerprints: ${pairs(0)._3}")
    // boilerplate cap: the same short text in MANY docs exceeds the
    // bucket cap, so its fingerprints are dropped whole — no pair storm
    val boiler = (0 until 20).map(i => (100L + i, "the same footer appears on every page"))
      .toDF("doc_id", "text")
    val capped = TextAnalysis.winnowingPairs(boiler, "doc_id", "text",
      gramSize = 5, w = 2, minShared = 1, maxBucketSize = 10).count()
    assert(capped == 0, "posting lists over the cap must be dropped whole")
  }

  test("languageBuckets: per-language terciles — each language splits independently") {
    // lang A: scores 0.5..8.5 (9 docs, thirds of 3); lang B sits two
    // orders lower — under one GLOBAL threshold all of B would be
    // "tail"; per-language terciles must still split B 3/3/3
    val rows = (0 until 9).map(i => (i.toLong, "aa", 0.5 + i)) ++
      (100 until 109).map(i => (i.toLong, "bb", (0.5 + (i - 100)) / 100.0))
    val df = rows.toDF("doc_id", "lang", "score")
    val out = TextAnalysis.languageBuckets(df, "doc_id", "lang", "score",
        lo = 0.0, hi = 10.0, numBuckets = 1000)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("bucket")))
    val byLang = out.groupBy(_._2)
    for ((lang, rs) <- byLang) {
      val counts = rs.groupBy(_._3).view.mapValues(_.length).toMap
      assert(counts == Map("head" -> 3, "middle" -> 3, "tail" -> 3),
        s"$lang terciles: $counts")
      // ordering: head docs have the highest scores within the language
      val rank = rs.sortBy(_._1).map(_._3).toSeq
      assert(rank == Seq("tail", "tail", "tail", "middle", "middle", "middle",
        "head", "head", "head"), s"$lang: $rank")
    }
  }

  test("pmiPairs: hand-computed PMI, minCount gate, alphabetical per-doc cap") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "b a"), (3L, "a c"), (4L, "d e"))
      .toDF("doc_id", "text")
    // (a,b) co-occurs in 2 docs; c_a = 3, c_b = 2, N = 4 →
    // PMI = ln(4·2 / (3·2)) = ln(4/3); quantized to 287682 µnats.
    val out = TextAnalysis.pmiPairs(docs, "doc_id", "text", minCount = 2,
        capPerDoc = 20, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(5)))
    assert(out.toSeq === Seq(("a", "b", 2L, 0.287682)),
      s"single surviving pair with exact quantized PMI: ${out.toSeq}")
    // minCount = 1 admits the singletons; rarer pairs score HIGHER
    // PMI when their marginals are small — (d,e) = ln(4·1/(1·1))
    val all = TextAnalysis.pmiPairs(docs, "doc_id", "text", minCount = 1,
        capPerDoc = 20, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(5)))
    assert(all.head === (("d", "e", math.floor(math.log(4.0) * 1e6 + 0.5) / 1e6)))
    assert(all.map(p => (p._1, p._2)).contains(("a", "c")))
    // cap: a 5-token doc capped to its 3 alphabetically-first tokens
    val big = Seq((1L, "e d c b a")).toDF("doc_id", "text")
    val capped = TextAnalysis.pmiPairs(big, "doc_id", "text", minCount = 1,
        capPerDoc = 3, k = 100)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(capped.toSet === Set(("a", "b"), ("a", "c"), ("b", "c")),
      s"pairs only among the capped {a,b,c}: $capped")
  }

  test("bm25Search: hand-computed scores, ranking, and hit filtering") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark pad pad"), // tf(spark)=3, dl=5
      (2L, "spark pad pad pad pad"),     // tf(spark)=1, dl=5
      (3L, "rare pad pad pad pad"),      // tf(rare)=1,  dl=5
      (4L, "pad pad pad pad pad")        // no query terms → excluded
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Search(docs, "doc_id", "text",
        Seq("spark", "rare"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out.map(_._1) === Seq(3L, 1L, 2L),
      s"rare (df=1) outranks spark hits; tf breaks the spark tie: $out")
    // replicate the operator's quantized arithmetic: N=4, tot=20,
    // avgdl=5 → dl/avgdl = 1 for every doc
    def idfQ(dfT: Long): Long =
      math.floor(math.log((2.0 * 4 + 2) / (2.0 * dfT + 1)) * 1e6 + 0.5).toLong
    def scoreOf(tf: Long, dfT: Long): Double = {
      val denom = tf.toDouble + 1.2 * (0.25 + 0.75 * 5.0 * 4.0 / 20.0)
      val cq = math.floor((idfQ(dfT) / 1e6) * (tf.toDouble * 2.2) / denom * 1e6 + 0.5).toLong
      math.floor(cq.toDouble / 1e6 * 1e6 + 0.5) / 1e6
    }
    val byId = out.toMap
    assert(byId(3L) === scoreOf(1, 1), "rare: tf=1, df=1")
    assert(byId(1L) === scoreOf(3, 2), "spark x3: tf=3, df=2")
    assert(byId(2L) === scoreOf(1, 2), "spark x1: tf=1, df=2")
    assert(!byId.contains(4L), "docs with no query term never surface")
  }

  test("bm25Search: k bounds the result and multi-term docs sum their contributions") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, if (i <= 5) "spark rare" else "spark pad"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25Search(docs, "doc_id", "text",
      Seq("spark", "rare"), k = 3).collect()
    assert(out.length === 3)
    // two-term docs strictly dominate one-term docs; lowest ids win ties
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("invertedIndex: exact df, bounded lowest-id postings, minDf gate, within-doc dedup") {
    import spark.implicits._
    // "common" in docs 1..6; "pair" in 2 docs; "solo" in 1; doc 1
    // repeats "common" twice (df must still count it once)
    val docs = Seq(
      (1L, "common common pair"), (2L, "common pair"), (3L, "common"),
      (4L, "common"), (5L, "common"), (6L, "common solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(docs, "doc_id", "text",
        maxPostings = 4, minDf = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    val byTerm = out.groupBy(_._1)
    assert(!byTerm.contains("solo"), "df=1 term filtered by minDf=2")
    assert(byTerm("pair").map(_._2).distinct === Seq(2L), "pair df=2")
    assert(byTerm("pair").sortBy(_._3).map(_._4) === Seq(1L, 2L))
    assert(byTerm("common").map(_._2).distinct === Seq(6L),
      "within-doc repetition never inflates df")
    // bounded: 6 matching docs but only the 4 LOWEST ids survive
    assert(byTerm("common").sortBy(_._3).map(_._4) === Seq(1L, 2L, 3L, 4L))
  }

  test("domainQuality: domain-level dup/short verdicts, tag-don't-drop") {
    val longText = (1 to 25).map(i => s"w$i").mkString(" ") // 25 tokens
    val docs = Seq(
      // spam.com: 4 docs, all the same after normalization → dup_frac 0.75
      (1L, "spam.com", "Buy   Now"), (2L, "spam.com", "buy now"),
      (3L, "spam.com", "BUY NOW "), (4L, "spam.com", "buy now"),
      // short.org: 3 distinct docs, all < 20 tokens → short_frac 1.0
      (5L, "short.org", "tiny one"), (6L, "short.org", "tiny two"),
      (7L, "short.org", "tiny three"),
      // good.net: 3 distinct long docs → keep
      (8L, "good.net", longText + " a"), (9L, "good.net", longText + " b"),
      (10L, "good.net", longText + " c"),
      // tiny.io: 2 identical docs but below minDocs → keep
      (11L, "tiny.io", "same text"), (12L, "tiny.io", "same text")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.domainQuality(docs, "doc_id", "source", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getString(6)))
    val bySrc = out.groupBy(_._2)
    // spam.com flagged by dup fraction: (4 - 1 distinct) / 4
    assert(bySrc("spam.com").forall(t => t._3 == 4L && t._4 == 0.75 && t._6 == "flag"))
    // short.org flagged by short fraction despite zero dups
    assert(bySrc("short.org").forall(t => t._4 == 0.0 && t._5 == 1.0 && t._6 == "flag"))
    // healthy domain keeps
    assert(bySrc("good.net").forall(t => t._4 == 0.0 && t._5 == 0.0 && t._6 == "keep"))
    // 100% dup but n_docs < minDocs: evidence too thin to flag
    assert(bySrc("tiny.io").forall(t => t._4 == 0.5 && t._6 == "keep"))
    // every input doc is tagged, none dropped
    assert(out.map(_._1).toSeq == (1L to 12L))
  }

  // ---- zipfStats ---------------------------------------------------------

  /** The operator's exact regression arithmetic, replayed in Scala:
    * both coordinates quantize to 1e-6 integers BEFORE the sums, the
    * slope is one IEEE division, 1e-6-quantized.
    */
  private def zipfSlope(countsDesc: Seq[Long]): Double = {
    val pts = countsDesc.zipWithIndex.map { case (c, i) =>
      (math.floor(math.log((i + 1).toDouble) * 1e6 + 0.5).toLong,
       math.floor(math.log(c.toDouble) * 1e6 + 0.5).toLong)
    }
    val n = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum; val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    math.floor(slope * 1e6 + 0.5) / 1e6
  }

  test("zipfStats: exact totals, top-1 share, and hand-replayed slope; empty docs are safe") {
    // token counts: a×8, b×4, c×2, d×1 across three docs plus an
    // empty and a whitespace-only doc (zero tokens, no null/[''] row)
    val docs = Seq(
      (1L, "a a a a b b c d"),
      (2L, "A a\t a  B b"),      // normalization: case + whitespace
      (3L, "a c"),
      (4L, ""), (5L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.zipfStats(docs, "text", topN = 100).collect()
    assert(out.length === 1)
    val r = out(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((15L, 4L, 8L)))
    assert(r.getDouble(3) === math.floor(8.0 / 15.0 * 1e6 + 0.5) / 1e6)
    assert(r.getDouble(4) === zipfSlope(Seq(8L, 4L, 2L, 1L)))
  }

  test("zipfStats: an exact power-law corpus reads slope ≈ −1; topN truncates the head") {
    // counts 12/r for ranks 1..4: ln c = ln 12 − ln r → slope −1 up to
    // the 1e-6 coordinate quantization
    val words = Seq("w1" -> 12, "w2" -> 6, "w3" -> 4, "w4" -> 3)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val full = TextAnalysis.zipfStats(df, "text", topN = 100).collect()(0)
    assert(math.abs(full.getDouble(4) + 1.0) < 1e-3, s"slope ${full.getDouble(4)}")
    assert(full.getDouble(4) === zipfSlope(Seq(12L, 6L, 4L, 3L)))
    // topN = 2 regresses over the two head points only
    val head = TextAnalysis.zipfStats(df, "text", topN = 2).collect()(0)
    assert(head.getDouble(4) === zipfSlope(Seq(12L, 6L)))
    assert(head.getLong(0) === 25L && head.getLong(1) === 4L,
      "totals stay corpus-wide when topN truncates the regression")
  }

  test("zipfStats: single-token vocabulary has no slope (null), share 1; bad topN rejected") {
    val df = Seq((1L, "same same same")).toDF("doc_id", "text")
    val r = TextAnalysis.zipfStats(df, "text", topN = 100).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 1L, 3L)))
    assert(r.getDouble(3) === 1.0)
    assert(r.isNullAt(4), "one regression point → degenerate denominator → null")
    intercept[IllegalArgumentException] { TextAnalysis.zipfStats(df, "text", topN = 1) }
    intercept[IllegalArgumentException] { TextAnalysis.zipfStats(df, "text", topN = 10001) }
  }

  // ---- boilerplateLines ---------------------------------------------------

  test("boilerplateLines: cross-doc frequency flags; within-doc repeats and blanks never count") {
    // "FOOTER" rides in docs 1-3 (3 distinct docs = minDocs) → flagged.
    // Doc 4 repeats its own line 3 times in ONE doc → distinct-before-
    // count keeps it at document frequency 1 → NOT flagged.
    // Blank lines are structure: never counted, never stripped.
    val df = Seq(
      (1L, "alpha\nFOOTER\n\nbravo"),
      (2L, "charlie\nFOOTER"),
      (3L, "FOOTER\ndelta"),
      (4L, "echo\necho\necho")).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateLines(df, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    def md5(s: String) =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(out(1L) === ((4L, 1L, 0.25, md5("alpha\n\nbravo"))),
      s"FOOTER stripped, blank kept: ${out(1L)}")
    assert(out(2L) === ((2L, 1L, 0.5, md5("charlie"))))
    assert(out(3L) === ((2L, 1L, 0.5, md5("delta"))))
    assert(out(4L) === ((3L, 0L, 0.0, md5("echo\necho\necho"))),
      s"within-doc repetition is not boilerplate: ${out(4L)}")
  }

  test("boilerplateLines: trimmed matching — indentation variants of one line share a flag") {
    // the same trimmed content under different indentation counts as
    // one line identity across 3 docs; stripping removes each doc's
    // RAW variant (reassembly is positional, not textual)
    val df = Seq(
      (1L, "  menu\nbody1"),
      (2L, "menu\nbody2"),
      (3L, "\tmenu\nbody3")).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateLines(df, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    def md5(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(out === Map(1L -> md5("body1"), 2L -> md5("body2"), 3L -> md5("body3")))
    intercept[IllegalArgumentException] {
      TextAnalysis.boilerplateLines(df, "doc_id", "text", minDocs = 1)
    }
  }

  // ---- readability --------------------------------------------------------

  test("readability: hand-computed Flesch — words, sentence runs, vowel groups") {
    // "the cat sat. it ran!" → 5 words; sentence runs [.] [!] → 2;
    // vowel groups: the(1) cat(1) sat(1) it(1) ran(1) → 5.
    // flesch = 206.835 − 1.015·(5/2) − 84.6·(5/5) = 206.835 − 2.5375 − 84.6
    val df = Seq((1L, "the cat sat. it ran!"), (2L, "   "),
      (3L, "no terminal punctuation here")).toDF("doc_id", "text")
    val out = TextAnalysis.readability(df, "doc_id", "text").collect()
    val r1 = out(0)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) === ((5L, 2L, 5L)))
    val expected = 206.835 - 1.015 * (5.0 / 2.0) - 84.6 * (5.0 / 5.0)
    assert(r1.getDouble(4) === math.floor(expected * 1e6 + 0.5) / 1e6)
    assert(r1.getString(5) === "easy", s"119.7 ≥ 60: $r1")
    // whitespace-only doc: zero words, null score, 'empty' band
    assert(out(1).getLong(1) === 0L && out(1).isNullAt(4)
      && out(1).getString(5) === "empty")
    // no [.!?] at all → sentence floor of 1, score still defined
    assert(out(2).getLong(2) === 1L && !out(2).isNullAt(4))
  }

  test("readability: band cuts applied to the QUANTIZED score") {
    // dense polysyllables push the score far below the 30 cut:
    // 3 words / 1 sentence / 15 vowel groups
    // → 206.835 − 3.045 − 84.6·5 = −219.21 → hard
    val hardText = "onomatopoeia encyclopaedia audiovisualia"
    val out = TextAnalysis.readability(
      Seq((1L, hardText)).toDF("doc_id", "text"), "doc_id", "text").collect()(0)
    assert(out.getString(5) === "hard", s"$out")
    assert(out.getDouble(4) < 30.0)
  }

  // ---- codeDetect ---------------------------------------------------------

  test("codeDetect: symbol density routes code; indentation+EOL route code; prose stays prose") {
    val code1 = "int main() { return f(x); }" // 7 symbols / 27 chars > 3%
    val code2 = "def f:\n  a\n  b\n  c{\nx;"    // indent+EOL route, no density
    val prose = "It was the best of times and nothing more was said about it"
    val df = Seq((1L, code1), (2L, code2), (3L, prose), (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.codeDetect(df, "doc_id", "text").collect()
    assert(out(0).getString(7) === "code", s"${out(0)}")
    assert(out(1).getString(7) === "code", s"${out(1)}")
    assert(out(2).getString(7) === "prose", s"${out(2)}")
    assert(out(3).getString(7) === "empty", s"${out(3)}")
    // exact counters on code1: 27 chars, 1 line, symbols ( ) { ( ) ; }
    val r1 = out(0)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) === ((27L, 1L, 7L)))
    assert(r1.getLong(6) === 2L, s"int + return keywords: $r1")
  }

  test("codeDetect: the indent/EOL rule fires below symbol density; thresholds are exact") {
    // 10 lines: 3 indented (exactly 30%), 2 ending with ';' (exactly
    // 20%) — both boundaries inclusive via integer cross-multiply.
    // Lines are padded with prose so the 2 semicolons stay under the
    // 3% density rule and ONLY the indent/EOL rule decides.
    val lines = Seq("  alpha beta gamma", "  delta epsilon zeta",
      "  eta theta iota", "kappa lambda mu;", "nu xi omicron;",
      "pi rho", "sigma tau", "upsilon phi", "chi psi", "omega end")
    val df = Seq((1L, lines.mkString("\n"))).toDF("doc_id", "text")
    val r = TextAnalysis.codeDetect(df, "doc_id", "text").collect()(0)
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ===
      ((10L, 2L, 3L, 2L)))
    assert(r.getLong(3) * 1000L < r.getLong(1) * 30L, "density rule stays off")
    assert(r.getString(7) === "code", s"inclusive boundary: $r")
    // one fewer indented line → 2/10 < 30% → prose
    val df2 = Seq((1L, ("kappa pad" +: lines.tail).mkString("\n"))).toDF("doc_id", "text")
    assert(TextAnalysis.codeDetect(df2, "doc_id", "text")
      .collect()(0).getString(7) === "prose")
  }

  test("LowerUtf8 returns exactly what lower() returns, with ICU case mappings on and off") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
    import org.apache.spark.sql.functions.{col, lower}
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import org.apache.spark.unsafe.types.UTF8String
    val valid = Seq("Hello WORLD 123", "İSTANBUL İi", "ΟΔΟΣ ΣΊΣΥΦΟΣ Σ", "Straße STRASSE ẞ",
      "ПРИВЕТ Мир Ёж", "Ǆ ǅ ΐ", "")
    val invalid = Seq(Array[Byte](0x41, 0xff.toByte, 0x42), Array[Byte](0xc3.toByte, 0x41),
      Array[Byte](0x49, 0xe2.toByte, 0x82.toByte))
    val bytes = valid.map(_.getBytes("UTF-8")) ++ invalid
    // a scanned frame, so the projection is code-generated, not folded
    val df = org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointFreshStats(
      (bytes.map(Option(_)) :+ None).toDF("b").select(col("b").cast("string").as("s")))
    val ours = column(graft.plans.LowerUtf8(expression(col("s"))))
    val key = "spark.sql.icu.caseMappings.enabled"
    val before = spark.conf.getOption(key)
    try for (icu <- Seq("true", "false")) {
      spark.conf.set(key, icu)
      val got = df.select(lower(col("s")).cast("binary"), ours.cast("binary")).collect()
      assert(got.length == bytes.size + 1)
      got.foreach { r =>
        assert(java.util.Arrays.equals(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)),
          s"icu=$icu: ${Option(r.getAs[Array[Byte]](0)).map(new String(_, "UTF-8"))}")
      }
      assert(got.count(_.isNullAt(1)) == 1, "null stays null")
      bytes.foreach { b =>
        val lit = Literal(UTF8String.fromBytes(b))
        assert(graft.plans.LowerUtf8(lit).eval() == Lower(lit).eval(), s"interpreted, icu=$icu")
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
