package graft.operators

import java.util.concurrent.{Callable, ExecutorCompletionService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed graph algorithms over edge lists — used for
  * centrality-weighted data selection (rank web/document nodes by a
  * link or similarity graph, then sample by rank — the Common-Crawl
  * host-graph trick applied to the k-NN similarity graph that
  * [[Similarity.knnGraph]] already builds).
  *
  * All arithmetic is INTEGER (ranks in 1e-9 "nano" units, damping as
  * the exact rational 85/100): integer sums are summation-order
  * immune, so the result is bit-identical across partitionings,
  * retries, and engines — a DuckDB oracle can replay every iteration
  * exactly. The deliberate trade: floor-division truncation loses
  * ≤ 1e-9 rank per (edge, iteration) vs real-valued PageRank —
  * far below any ranking-relevant difference.
  *
  * The iterative algorithms ([[pageRank]], [[labelPropagation]]) run
  * on one RDD kernel ([[NodeKernel]]), not on Catalyst: a round is a
  * fixed pair of closures, so it is compiled once by the JIT instead
  * of being analyzed, optimized and code-generated as a new SQL plan
  * every round. The one-shot algorithms (triangles, cluster quality)
  * stay DataFrame plans.
  */
object Graphs {

  /** Eager local checkpoint that also RESETS inherited plan
    * statistics ([[org.apache.spark.sql.graftbridge.CheckpointBridge]]):
    * plain `localCheckpoint` carries the origin `sizeInBytes` onto
    * the LogicalRDD, and a frame joined against itself squares that
    * BigInt — stats arithmetic ends up dominating the plan and
    * finally overflows.
    */
  private def graftCheckpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointFreshStats(df)

  private val ParallelCalls = new AtomicInteger

  /** Run independent eagerly-materializing builds concurrently
    * (guide-§2.6 job overlap): Spark's scheduler happily runs several
    * jobs at once inside one application, so one body's tasks
    * backfill another's inter-stage driver gaps. FIFO scheduling keeps
    * the earlier job's resource priority. Results come back in input
    * order.
    *
    * At most `min(bodies, defaultParallelism)` bodies run at once.
    * Each body's jobs carry their own job tag (a tag, not a job group:
    * the caller's group — e.g. a per-query budget's — stays in force,
    * so cancelling it still reaches every body). On the first failure
    * queued bodies are dropped, running bodies have their jobs
    * cancelled until their threads return, and the original exception
    * is rethrown.
    */
  private[graft] def inParallelSeq[A](bodies: Seq[() => A]): Seq[A] =
    if (bodies.size <= 1) bodies.map(_())
    else {
      val sc = SparkSession.active.sparkContext
      val call = ParallelCalls.incrementAndGet()
      val tags = bodies.indices.map(i => s"graft-parallel-$call-$i")
      val threads = new AtomicInteger
      val pool = Executors.newFixedThreadPool(math.min(bodies.size, sc.defaultParallelism),
        new ThreadFactory {
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-parallel-$call-${threads.getAndIncrement()}")
            t.setDaemon(true)
            t
          }
        })
      val done = new ExecutorCompletionService[(Int, A)](pool)
      val futures = bodies.zip(tags).zipWithIndex.map { case ((body, tag), i) =>
        done.submit(new Callable[(Int, A)] {
          def call(): (Int, A) = {
            sc.addJobTag(tag)
            sc.setInterruptOnCancel(true)
            try (i, body()) finally sc.removeJobTag(tag)
          }
        })
      }
      val out = new Array[Any](bodies.size)
      try {
        bodies.indices.foreach { _ => val (i, a) = done.take().get(); out(i) = a }
        out.toSeq.asInstanceOf[Seq[A]]
      } catch {
        case t: Throwable =>
          // queued bodies never start; running ones get their jobs
          // cancelled (again, should one submit a job after a cancel)
          // until they return
          futures.foreach(_.cancel(false))
          pool.shutdown()
          val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
          var idle = false
          while (!idle && System.nanoTime() < deadline) {
            tags.foreach(sc.cancelJobsWithTag)
            idle = pool.awaitTermination(100, TimeUnit.MILLISECONDS)
          }
          if (!idle) pool.shutdownNow()
          throw (t match {
            case e: java.util.concurrent.ExecutionException => e.getCause
            case other => other
          })
      } finally pool.shutdown()
    }

  /** Two-body [[inParallelSeq]]. */
  private[graft] def inParallel[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = inParallelSeq(Seq[() => Any](() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  /** Rounds between lineage cuts of an iterative state (see
    * [[NodeKernel.iterate]]). */
  private val CheckpointEvery = 10

  /** The co-partitioned node-state kernel behind [[pageRank]] and
    * [[labelPropagation]].
    *
    * The edge frame is read ONCE, through `queryExecution.toRdd`, into
    * an adjacency RDD (node → its distinct out-neighbours; every
    * endpoint is a node, so a dst-only node has none) that is cached
    * under one `HashPartitioner(spark.sql.shuffle.partitions)`. Node
    * state lives in RDDs under the same partitioner, so a round is
    * one map-side-combined message shuffle plus narrow co-partitioned
    * zips — no SQL plan inside the loop. Messages are keyed by an
    * 8-byte node id and combined before they leave the map side, so
    * nothing wider than a node's combined inbox ever shuffles; no
    * data-sized collect, no driver-side graph.
    *
    * Every round's state is cached (it feeds the next round's message
    * side AND its update side, which would otherwise recompute the
    * whole round chain), and [[close]] drops the adjacency and every
    * state once the caller has materialized its result.
    */
  private[graft] final class NodeKernel(edges: DataFrame, srcCol: String, dstCol: String) {
    private val ends = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
    private val held = mutable.ArrayBuffer.empty[RDD[_]]

    val partitioner = new HashPartitioner(edges.sparkSession.sessionState.conf.numShufflePartitions)

    /** Output node-id field: nullable exactly when an input endpoint is. */
    private val idField: StructField = StructField("id", LongType, ends.schema.exists(_.nullable))

    private def hold[T](r: RDD[T]): RDD[T] = {
      held.synchronized(held += r)
      r.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** node → distinct out-neighbours. The edge list is a set and null
      * endpoints are dropped. */
    val adjacency: RDD[(Long, Array[Long])] = hold(ends.queryExecution.toRdd
      .flatMap { r =>
        // (dst, null) makes dst a node without giving it an out-edge
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else Iterator((r.getLong(0), java.lang.Long.valueOf(r.getLong(1))),
          (r.getLong(1), null: java.lang.Long))
      }
      .combineByKey[mutable.ArrayBuilder.ofLong](
        (d: java.lang.Long) => append(new mutable.ArrayBuilder.ofLong, d),
        append, (a, b) => a.addAll(b.result()), partitioner)
      .mapValues(_.result().distinct))

    /** One round: each node with out-neighbours sends `send(state,
      * outDegree)` (if any) to every out-neighbour; messages combine
      * map-side by destination — the round's ONE shuffle — and a
      * narrow co-partitioned zip applies `update(state, inbox)`
      * (`None` when nothing arrived) to every node.
      */
    def round[S, V: ClassTag, C](state: RDD[(Long, S)])(
        send: (S, Int) => Option[V])(
        combine: V => C, add: (C, V) => C, merge: (C, C) => C)(
        update: (S, Option[C]) => S): RDD[(Long, S)] = {
      val inbox = adjacency.zipPartitions(state) { (adj, st) =>
        val byId = mutable.LongMap.from(st)
        adj.flatMap { case (id, nbrs) =>
          if (nbrs.isEmpty) Iterator.empty
          else send(byId(id), nbrs.length) match {
            case Some(m) => nbrs.iterator.map(d => (d, m))
            case None => Iterator.empty
          }
        }
      }.combineByKey(combine, add, merge, partitioner)
      state.zipPartitions(inbox, preservesPartitioning = true) { (st, in) =>
        val received = mutable.LongMap.from(in)
        st.map { case (id, s) => (id, update(s, received.get(id))) }
      }
    }

    /** Runs up to `iterations` rounds of `step`, lazily: a fixed-round
      * run is computed by the caller's one materializing job. Every
      * [[CheckpointEvery]] rounds the state is local-checkpointed to
      * bound the lineage. With a `settled(old, new)` probe the new
      * state is local-checkpointed every round and the probe is the
      * round's one action (it materializes the state it reads); the
      * loop stops once it returns true.
      */
    def iterate[S](init: RDD[(Long, S)], iterations: Int,
        settled: Option[(RDD[(Long, S)], RDD[(Long, S)]) => Boolean])(
        step: RDD[(Long, S)] => RDD[(Long, S)]): RDD[(Long, S)] = {
      var state = hold(init)
      var it = 0
      var done = false
      while (it < iterations && !done) {
        val next = hold(step(state))
        it += 1
        val cut = it % CheckpointEvery == 0 && it < iterations
        settled match {
          case Some(probe) => next.localCheckpoint(); done = probe(state, next)
          case None => if (cut) { next.localCheckpoint(); next.count() }
        }
        state = next
      }
      state
    }

    /** The result frame, materialized (one job) before the caller
      * [[close]]s the kernel. */
    def frame[S](state: RDD[(Long, S)], valueField: StructField)(value: S => Any): DataFrame =
      org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointRows(edges.sparkSession,
        state.map { case (id, s) => InternalRow(id, value(s)) },
        StructType(Seq(idField, valueField)))

    def close(): Unit = held.synchronized(held.foreach(_.unpersist(blocking = false)))
  }

  private def append(b: mutable.ArrayBuilder.ofLong, d: java.lang.Long): mutable.ArrayBuilder.ofLong = {
    if (d != null) b.addOne(d.longValue)
    b
  }

  /** Runs `body` over a fresh kernel and frees the kernel's caches
    * after `body` has materialized its result. */
  private def withKernel[T](edges: DataFrame, srcCol: String, dstCol: String)(
      body: NodeKernel => T): T = {
    val k = new NodeKernel(edges, srcCol, dstCol)
    try body(k) finally k.close()
  }

  /** PageRank by power iteration over a directed edge list.
    *
    * Node set = distinct sources ∪ destinations. Every node starts
    * at rank 1.0 (1e9 nanos); one iteration sends each node
    * `floor(85 · r / (100 · outdeg))` nanos along each out-edge and
    * resets it to `0.15 + Σ incoming` (the per-node teleport form of
    * PageRank with d = 0.85; ranks sum to ≈ N). Dangling nodes (no
    * out-edges) keep receiving but distribute nothing — their
    * outflow leaks, the standard simplification when the graph (like
    * a k-NN graph) has none or few.
    *
    * Returns (id, rank_nanos: long) — callers divide by 1e9 for the
    * conventional scale.
    *
    * Scale shape: [[NodeKernel]] — per iteration one map-side-combined
    * long sum keyed by destination, then a narrow co-partitioned
    * update; the edge frame is read once. A fixed-iteration run is ONE
    * Spark job (plus a lineage cut every [[CheckpointEvery]] rounds).
    * Overflow bound: a node's rank is ≤ the total mass ≤ N·1e9 nanos,
    * so 85·rank stays inside a long for N < 10^11 nodes; past that the
    * exact arithmetic throws rather than wraps.
    *
    * `toleranceNanos` > 0 adds a convergence early-exit: stop when
    * the total absolute rank movement Σ|Δr| of a round is ≤ the
    * tolerance (an exact integer test — no float drift), so
    * large-scale callers don't pay fixed iterations past
    * convergence. The probe is the round's one action over its
    * checkpointed state — no recompute. The default 0 keeps the
    * fixed-iteration form (the oracle-replayable contract).
    */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
               iterations: Int = 5, toleranceNanos: Long = 0L): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(toleranceNanos >= 0L,
      s"toleranceNanos must be >= 0, got $toleranceNanos")
    withKernel(edges, srcCol, dstCol)(pageRankOn(_, iterations, toleranceNanos)).orderBy("id")
  }

  private def pageRankOn(k: NodeKernel, iterations: Int, toleranceNanos: Long): DataFrame = {
    val settled =
      if (toleranceNanos == 0L) None
      else Some((o: RDD[(Long, Long)], n: RDD[(Long, Long)]) =>
        o.zipPartitions(n) { (old, cur) =>
          val before = mutable.LongMap.from(old)
          Iterator.single(cur.map { case (id, r) => math.abs(r - before(id)) }.sum)
        }.collect().sum <= toleranceNanos)
    val ranks = k.iterate(k.adjacency.mapValues(_ => 1000000000L), iterations, settled)(rankStep(k))
    k.frame(ranks, StructField("rank_nanos", LongType, nullable = false))(identity)
  }

  /** One PageRank round on the kernel (package-private for the
    * lineage audit). */
  private[graft] def rankStep(k: NodeKernel)(ranks: RDD[(Long, Long)]): RDD[(Long, Long)] =
    k.round(ranks)((r: Long, deg: Int) => Some(Math.multiplyExact(85L, r) / (100L * deg)))(
      (c: Long) => c, Math.addExact(_: Long, _: Long), Math.addExact(_: Long, _: Long))(
      (_, in) => Math.addExact(150000000L, in.getOrElse(0L)))

  /** Semi-supervised label propagation (the classic LPA step applied
    * to data labeling: spread a small seed set's labels across the
    * similarity graph). Per iteration every node takes the MODE of
    * its in-neighbors' current labels — ties broken by the SMALLEST
    * label so the result is deterministic — except seed nodes, whose
    * labels are clamped, and nodes with no labeled in-neighbor,
    * which keep their previous label (null until first reached).
    *
    * Returns (id, label) for every node, label null if never
    * reached. All arithmetic is exact (counts + integer labels) —
    * bit-identical across partitionings and engines.
    *
    * Scale shape: [[NodeKernel]] — per iteration every labeled node
    * sends its label along its out-edges, and the (label → count)
    * histograms combine map-side by destination (one shuffle); the
    * arg-max is a scan of each node's histogram, never a sort of a
    * hub's votes. The seed table is hash-partitioned once to seed
    * the state. A run is ONE Spark job (plus a lineage cut every
    * [[CheckpointEvery]] rounds).
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
                       srcCol: String = "src", dstCol: String = "dst",
                       idCol: String = "id", labelCol: String = "label",
                       iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    withKernel(edges, srcCol, dstCol)(labelPropOn(_, seeds, idCol, labelCol, iterations))
      .orderBy("id")
  }

  /** "No label" in the kernel's label state (labels are ints, so no
    * real label collides with it). */
  private val NoLabel = Long.MinValue

  private def labelPropOn(k: NodeKernel, seeds: DataFrame, idCol: String, labelCol: String,
                          iterations: Int): DataFrame = {
    val seedRows = seeds.select(col(idCol).cast("long"), col(labelCol).cast("int"))
      .queryExecution.toRdd
      .flatMap(r => if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((r.getLong(0), r.getInt(1).toLong)))
      .partitionBy(k.partitioner)
    // state = (clamped seed label, current label)
    val init = k.adjacency.zipPartitions(seedRows, preservesPartitioning = true) { (adj, s) =>
      val seed = mutable.LongMap.from(s)
      adj.map { case (id, _) => val l = seed.getOrElse(id, NoLabel); (id, (l, l)) }
    }
    val labels = k.iterate(init, iterations, None)(labelStep(k))
    k.frame(labels, StructField("label", IntegerType, nullable = true)) { s =>
      if (s._2 == NoLabel) null else s._2.toInt
    }
  }

  /** One label-propagation round on the kernel (package-private for
    * the lineage audit). */
  private[graft] def labelStep(k: NodeKernel)(
      labels: RDD[(Long, (Long, Long))]): RDD[(Long, (Long, Long))] =
    k.round(labels)((s: (Long, Long), _: Int) => if (s._2 == NoLabel) None else Some(s._2))(
      (l: Long) => mutable.LongMap(l -> 1L),
      (m: mutable.LongMap[Long], l: Long) => { m(l) = m.getOrElse(l, 0L) + 1L; m },
      (a: mutable.LongMap[Long], b: mutable.LongMap[Long]) => {
        b.foreachEntry((l, c) => a(l) = a.getOrElse(l, 0L) + c); a
      })(
      (s, votes) => if (s._1 != NoLabel) s else votes.fold(s)(v => (s._1, mode(v))))

  /** Most frequent label; ties go to the smallest label. */
  private def mode(votes: mutable.LongMap[Long]): Long = {
    var best = NoLabel
    var bestCount = 0L
    votes.foreachEntry { (l, c) =>
      if (c > bestCount || (c == bestCount && l < best)) { best = l; bestCount = c }
    }
    best
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected edge list — the dedup-QA companion to
    * [[Dedup.connectedComponents]]: a near-dup cluster whose nodes
    * have clustering ≈ 1 is a genuine clique of mutual duplicates,
    * while a large cluster full of low-clustering nodes was merged by
    * TRANSITIVE CHAINS (A~B~C with A≁C) — the classic LSH
    * over-merge signature that pairwise thresholds can't see.
    *
    * Algorithm: degree-ordered node-iterator (the standard
    * distributed formulation). Each edge is oriented from its
    * (degree, id)-smaller endpoint to its larger one; wedges are
    * enumerated at the SMALLEST-ranked vertex of each triangle by
    * self-joining the oriented list on the source, and a wedge
    * (x→y, x→z) closes iff the oriented edge y→z exists — so every
    * triangle is produced exactly once. Orientation bounds the
    * per-node wedge fan-out by the oriented out-degree, which the
    * degree ordering caps at O(√m) on any graph — total work
    * O(m^1.5), the best exact bound, vs the unordered iterator's
    * O(Σ d²) that a single hub makes quadratic. Per-node counts are
    * orientation-invariant, so an id-ordered SQL oracle reproduces
    * them exactly.
    *
    * Scale shape: degrees are one map-side-combined count; the
    * orientation joins, the wedge self-join, and the closing join all
    * key on 8-byte node ids or (long, long) pairs — nothing wider
    * than three longs ever shuffles, no windows, no driver-side
    * graph. The oriented edge frame is persisted: it feeds both sides
    * of the wedge join and the closing probe.
    *
    * Returns (node, degree, n_triangles, clustering) for every node
    * with degree ≥ 1, clustering = 2T / (d(d−1)) rounded to 6 dp
    * (0.0 for d < 2).
    */
  def triangleStats(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame =
    triangleStatsImpl(pairs, aCol, bCol, materialize = true)

  /** [[triangleStats]] without the persist/checkpoint materialization —
    * the plan-audit seam (the checkpoint collapses the public plan to
    * an ExistingRDD scan, hiding the join shapes audits must see).
    */
  private[graft] def triangleStatsImpl(pairs: DataFrame, aCol: String,
      bCol: String, materialize: Boolean): DataFrame = {
    val eRaw = pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .dropDuplicates("u", "v")
    // The oriented edge list references e three times (both degree
    // projections and the orientation join), so without a checkpoint
    // the upstream candidate build (at scale, the whole MinHash/LSH
    // pipeline) is embedded three times in one analyzed plan —
    // exchange reuse may or may not collapse the copies, and the
    // driver re-plans the full tree per AQE stage either way (the
    // measured r14 driver-gap pathology: 27.5 s of a 40 s emb_pagerank
    // run, when it was a DataFrame loop over a persisted edge frame,
    // was zero-task driver gap). One eager fresh-stats checkpoint
    // truncates all of it.
    val e = if (materialize) graftCheckpoint(eRaw) else eRaw
    // deg is referenced four times (both orientation sides, the
    // closing-degree join, the final rollup join): persist the
    // node-sized frame so it aggregates once instead of four times.
    val degRaw = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count("*").as("d"))
    val deg = if (materialize) degRaw.persist() else degRaw
    // orient by (degree, id): rank as a single sortable struct so the
    // comparison stays one codegen'd expression
    val du = deg.select(col("node").as("u"), col("d").as("d_u"))
    val dv = deg.select(col("node").as("v"), col("d").as("d_v"))
    val oriented = e.join(du, "u").join(dv, "v")
      .select(
        when(struct(col("d_u"), col("u")) < struct(col("d_v"), col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))
      .join(deg.select(col("node").as("dst"), col("d").as("d_dst")), "dst")
      .select("src", "dst", "d_dst")
    val orientedC = if (materialize) oriented.persist() else oriented
    // wedges centered at the lowest-ranked vertex: both out-neighbors,
    // ordered by rank so the closing edge (if any) is oriented y→z
    val o1 = orientedC.select(col("src"), col("dst").as("y"), col("d_dst").as("d_y"))
    val o2 = orientedC.select(col("src"), col("dst").as("z"), col("d_dst").as("d_z"))
    val wedges = o1.join(o2, "src")
      .filter(struct(col("d_y"), col("y")) < struct(col("d_z"), col("z")))
      .select(col("src").as("x"), col("y"), col("z"))
    val closing = orientedC.select(col("src").as("y"), col("dst").as("z"))
    val tri = wedges.join(closing, Seq("y", "z"))
    val perNode = tri.select(col("x").as("node"))
      .union(tri.select(col("y").as("node")))
      .union(tri.select(col("z").as("node")))
      .groupBy("node").agg(count("*").as("n_triangles"))
    val raw = deg.join(perNode, Seq("node"), "left")
      .select(
        col("node"),
        col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        graft.functions.MathFunctions.roundTo(when(col("d") >= 2,
            lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
              (col("d").cast("double") * (col("d") - 1).cast("double")))
          .otherwise(lit(0.0)), 6).as("clustering"))
    if (!materialize) raw
    else {
      // materialize (node-sized) so the oriented/deg caches can be
      // freed before returning
      val out = graftCheckpoint(raw)
      orientedC.unpersist()
      deg.unpersist()
      out
    }
  }

  /** Per-cluster structural quality — the actionable rollup of
    * [[triangleStats]]: for every near-dup connected component, its
    * size, edge count, edge density, mean clustering coefficient, and
    * a three-way verdict — `clique` (density ≥ 0.8: a genuine block
    * of mutual duplicates, safe to keep one canonical doc), `chain`
    * (density < 0.3: LSH transitive over-merge, the cluster should be
    * re-verified before collapsing), `mixed` otherwise. The verdict
    * thresholds compare EXACT INTEGERS (`5·E ≥ 2·n(n−1)` ⟺
    * density ≥ 0.8 without forming the quotient), so boundary
    * clusters land identically on any engine; the reported density is
    * the one IEEE division of two exact integers, quantized.
    *
    * Scale shape: the candidate pair set is PERSISTED and feeds both
    * [[Dedup.connectedComponents]] and [[triangleStats]] exactly once
    * (both materialize eagerly via fresh-stats checkpoints, after
    * which the cache is freed — the ReuseExchange-miss discipline);
    * the stats join and the cluster rollup are node-sized equi-join +
    * map-side-combined aggregation keyed by cluster id. `avgClustering`
    * is a mean of 6-dp-quantized doubles rounded at 4 dp — the
    * documented partition-order tolerance for sum-of-double columns.
    */
  def clusterQuality(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val rd = graft.functions.MathFunctions.roundTo _
    val joined = graphSuite(pairs, aCol, bCol).withColumnRenamed("node", "id")
    joined.groupBy("cluster_id")
      .agg(count("*").as("n_nodes"),
        (sum("degree") / 2).cast("long").as("n_edges"),
        (sum("n_triangles") / 3).cast("long").as("n_triangles"),
        rd(avg("clustering"), 4).as("avg_clustering"))
      .select(col("cluster_id"), col("n_nodes"), col("n_edges"), col("n_triangles"),
        rd(lit(2.0) * col("n_edges").cast("double") /
          (col("n_nodes").cast("double") * (col("n_nodes") - 1).cast("double")), 6)
          .as("density"),
        col("avg_clustering"),
        // integer-exact thresholds: 2E/(n(n-1)) >= 4/5  ⟺  5·2E >= 4·n(n-1)
        //                           2E/(n(n-1)) <  3/10 ⟺ 10·2E < 3·n(n-1)
        when(lit(10L) * col("n_edges") >= lit(4L) * col("n_nodes") * (col("n_nodes") - 1),
          lit("clique"))
          .when(lit(20L) * col("n_edges") < lit(3L) * col("n_nodes") * (col("n_nodes") - 1),
            lit("chain"))
          .otherwise(lit("mixed")).as("verdict"))
  }

  /** One-build-many-queries entry for the near-dup graph class: the
    * candidate pair set — at 100 TB, by far the dominant cost (the
    * whole MinHash/LSH candidate generation) — is built ONCE, then
    * feeds BOTH [[Dedup.connectedComponents]] and [[triangleStats]].
    * Returns the per-node composition
    * (node, cluster_id, degree, n_triangles, clustering): the frame
    * an engine user actually joins back onto the corpus to decide
    * keep/collapse/re-verify per document, and the shared base
    * [[clusterQuality]] rolls up per cluster.
    *
    * Scale shape: `pairs` is persisted and scanned exactly once by
    * each consumer (both materialize eagerly via fresh-stats
    * checkpoints, after which the cache is freed — the
    * ReuseExchange-miss discipline); the final composition is one
    * node-keyed equi-join of two node-sized frames. Running this
    * instead of the two queries separately halves the edge-build
    * cost; at bench scale the suite runs in well under the sum of
    * its parts (see ROUND11 notes).
    */
  def graphSuite(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    // Eager fresh-stats checkpoint (was a lazy persist): both
    // consumers' own internal checkpoints plan over a leaf RDD
    // instead of re-planning the candidate build's subtree, and the
    // build still runs exactly once.
    val p = graftCheckpoint(
      pairs.select(col(aCol).as("id_a"), col(bCol).as("id_b")))
    // Overlap the two independent consumers (guide §2.6 pattern):
    // both depend only on the materialized pair RDD, and each is a
    // chain of small stages with driver think-time between them —
    // submitting them from two threads lets one side's tasks backfill
    // the cores the other side's scheduling gaps leave idle (job
    // descriptions/groups are thread-local, so cancellation and UI
    // labels stay per-side).
    val (cc, tri) = inParallel(
      Dedup.connectedComponents(p),  // (id, cluster_id), checkpointed
      triangleStats(p))              // (node, degree, n_triangles, clustering)
    cc.join(tri.withColumnRenamed("node", "id"), "id")
      .select(col("id").as("node"), col("cluster_id"), col("degree"),
        col("n_triangles"), col("clustering"))
  }

  /** The embedding-side one-build-many-queries entry: the capped-LSH
    * k-NN edge list ([[Similarity.knnGraph]] — the dominant cost of
    * every embedding-graph query) is built and MATERIALIZED once,
    * then feeds out-degree, [[pageRank]], and [[labelPropagation]]
    * in one pass. Returns one row per graph node:
    * (vec_id, out_degree, rank_nanos, label) — centrality AND
    * propagated label from a single edge build, where running
    * `emb_knn_graph` + `emb_pagerank` + `emb_label_prop` separately
    * pays the bucket/top-k build three times.
    *
    * Seeds follow the emb_label_prop convention: every `seedEvery`-th
    * vector keeps its true label. Dangling nodes (dst-only) carry
    * out_degree 0.
    *
    * Scale shape: [[Similarity.knnGraph]] returns its edges
    * materialized, so the out-degree count and the one [[NodeKernel]]
    * adjacency that pageRank and labelPropagation share read those
    * blocks and never re-derive the LSH buckets; the final composition
    * is two node-keyed equi-joins of node-sized frames.
    */
  def embeddingGraphSuite(emb: DataFrame, vecCol: String, idCol: String,
      labelCol: String, dim: Int, k: Int = 10, nPlanes: Int = Dedup.AutoPlanes,
      nTables: Int = 8, seedEvery: Int = 5, prIterations: Int = 5,
      lpIterations: Int = 3): DataFrame = {
    require(seedEvery >= 1, s"seedEvery=$seedEvery must be >= 1")
    val edges = Similarity.knnGraph(emb, vecCol, idCol, dim, k, nPlanes, nTables)
      .select(col("src_id"), col("nbr_id"))
    // PageRank and label propagation share one kernel (one adjacency
    // build) and are independent given it: overlap their jobs (§2.6)
    // so each side's tasks fill the other's driver gaps.
    val (pr, lp) = withKernel(edges, "src_id", "nbr_id") { g =>
      inParallel(
        pageRankOn(g, prIterations, 0L),
        labelPropOn(g, emb.filter(col(idCol) % seedEvery === 0).select(col(idCol), col(labelCol)),
          idCol, labelCol, lpIterations))
    }
    val deg = edges.groupBy(col("src_id").as("id"))
      .agg(count("*").as("out_degree"))
    pr.join(lp, "id").join(deg, Seq("id"), "left")
      .select(col("id").as("vec_id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        col("rank_nanos"), col("label"))
  }
}
