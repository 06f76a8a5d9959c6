package graft.operators

import java.util.concurrent.{Callable, ExecutorCompletionService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

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
  * Every algorithm ([[pageRank]], [[labelPropagation]],
  * [[Dedup.connectedComponents]], [[triangleStats]]) runs on one RDD
  * kernel ([[NodeKernel]]), not on Catalyst: a round is a fixed set of
  * closures, so it is compiled once by the JIT instead of being
  * analyzed, optimized and code-generated as a new SQL plan every
  * round. Only the result frames and their compositions
  * ([[graphSuite]], [[clusterQuality]]) are DataFrame plans.
  */
object Graphs {

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

  /** The co-partitioned node-state kernel behind every graph
    * algorithm here: [[pageRank]], [[labelPropagation]],
    * [[Dedup.connectedComponents]] and [[triangleStats]].
    *
    * The edge frame is read ONCE, through `queryExecution.toRdd`, into
    * adjacency RDDs held ([[RddKernel.hold]]: one block of a node-id
    * array and a neighbour-list array per partition) under the
    * [[RddKernel]] partitioner: the directed [[adjacency]] and, when an
    * algorithm asks for it, the [[undirected]] one. Node state lives in
    * RDDs under the same partitioner, so a round is one
    * [[RddKernel.combine]] message shuffle plus narrow co-partitioned
    * zips — no SQL plan inside the loop. Messages are keyed by an
    * 8-byte node id and combined per target partition before they
    * leave the map side, which ships one block of (node ids, combined
    * inboxes) per reduce partition; no data-sized collect, no
    * driver-side graph.
    *
    * Every round's state is held (it feeds the next round's message
    * side AND its update side, which would otherwise recompute the
    * whole round chain), and [[close]] drops the adjacencies and every
    * state once the caller has materialized its result.
    */
  private[graft] final class NodeKernel(edges: DataFrame, srcCol: String, dstCol: String)
      extends RddKernel(edges.select(col(srcCol).as("id")).union(edges.select(col(dstCol).as("id"))),
        "id", s"The graph kernel (edges $srcCol -> $dstCol)") {
    private val ends = edges.select(col(srcCol).cast(LongType), col(dstCol).cast(LongType))
      .queryExecution.toRdd

    /** node → distinct out-neighbours. The edge list is a set and null
      * endpoints are dropped. */
    val adjacency: RDD[(Long, Array[Long])] = hold(neighbours(ends.flatMap { r =>
      // (dst, null) makes dst a node without giving it an out-edge
      if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
      else Iterator((r.getLong(0), java.lang.Long.valueOf(r.getLong(1))),
        (r.getLong(1), null: java.lang.Long))
    }))

    /** node → distinct neighbours with every edge taken both ways. A
      * pair with a null endpoint is dropped; a self-loop makes its
      * endpoint a node without giving it a neighbour. */
    lazy val undirected: RDD[(Long, Array[Long])] = hold(neighbours(ends.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
      else if (r.getLong(0) == r.getLong(1)) Iterator((r.getLong(0), null: java.lang.Long))
      else Iterator((r.getLong(0), java.lang.Long.valueOf(r.getLong(1))),
        (r.getLong(1), java.lang.Long.valueOf(r.getLong(0))))
    }))

    private def neighbours(pairs: RDD[(Long, java.lang.Long)]): RDD[(Long, Array[Long])] =
      gather(pairs).mapValues(_.distinct)

    /** key → its non-null values, combined under [[partitioner]]. */
    def gather(pairs: RDD[(Long, java.lang.Long)]): RDD[(Long, Array[Long])] =
      combine(pairs)((d: java.lang.Long) => append(new mutable.ArrayBuilder.ofLong, d),
          append, (a: mutable.ArrayBuilder.ofLong, b: mutable.ArrayBuilder.ofLong) => a.addAll(b.result()))
        .mapValues(_.result())

    /** One round over `adj`: each node with neighbours sends
      * `send(state, degree)` (if any) to every neighbour; messages
      * combine by destination ([[RddKernel.combine]]) — the round's
      * ONE shuffle — and a narrow co-partitioned zip applies
      * `update(state, inbox)` (`None` when nothing arrived) to every
      * node.
      */
    def round[S, V, C: ClassTag, T](adj: RDD[(Long, Array[Long])], state: RDD[(Long, S)])(
        send: (S, Int) => Option[V])(
        create: V => C, add: (C, V) => C, merge: (C, C) => C)(
        update: (S, Option[C]) => T): RDD[(Long, T)] = {
      val inbox = combine(adj.zipPartitions(state) { (nodes, st) =>
        val byId = mutable.LongMap.from(st)
        nodes.flatMap { case (id, nbrs) =>
          if (nbrs.isEmpty) Iterator.empty
          else send(byId(id), nbrs.length) match {
            case Some(m) => nbrs.iterator.map(d => (d, m))
            case None => Iterator.empty
          }
        }
      })(create, add, merge)
      state.zipPartitions(inbox, preservesPartitioning = true) { (st, in) =>
        val received = mutable.LongMap.from(in)
        st.map { case (id, s) => (id, update(s, received.get(id))) }
      }
    }

    /** Runs up to `iterations` rounds of `step`, lazily: a fixed-round
      * run is computed by the caller's one materializing job. Every
      * [[CheckpointEvery]] rounds the state's blocks are
      * local-checkpointed ([[RddKernel.checkpoint]]) to bound the
      * lineage. With a `settled(old, new)` probe the new state's blocks
      * are local-checkpointed every round and the probe is the
      * round's one action (it materializes the state it reads); the
      * old state is then dropped, and the loop stops once the probe
      * returns true.
      */
    def iterate[S: ClassTag](init: RDD[(Long, S)], iterations: Int,
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
          case Some(probe) =>
            checkpoint(next)
            done = probe(state, next)
            release(state)
          case None => if (cut) { checkpoint(next); next.count() }
        }
        state = next
      }
      state
    }

    /** The (id, values…) result frame with ids as longs, materialized
      * (one job) before the caller [[close]]s the kernel. */
    def frame[S](state: RDD[(Long, S)], valueFields: StructField*)(values: S => Seq[Any]): DataFrame =
      CheckpointBridge.localCheckpointRows(spark,
        state.map { case (id, s) => InternalRow.fromSeq(id +: values(s)) },
        StructType(StructField("id", LongType, idField.nullable) +: valueFields))

    /** A node → node map (such as a node's component) as an (id, `name`)
      * frame in the edge columns' own id type, materialized (one job). */
    def idFrame(state: RDD[(Long, Long)], name: String): DataFrame = {
      val out = idOut
      CheckpointBridge.localCheckpointRows(spark,
        state.map { case (id, to) => InternalRow(out(id), out(to)) },
        StructType(Seq(idField, idField.copy(name = name, nullable = true))))
    }
  }

  private def append(b: mutable.ArrayBuilder.ofLong, d: java.lang.Long): mutable.ArrayBuilder.ofLong = {
    if (d != null) b.addOne(d.longValue)
    b
  }

  /** Runs `body` over a fresh kernel and frees the kernel's caches
    * after `body` has materialized its result. */
  private[graft] def withKernel[T](edges: DataFrame, srcCol: String, dstCol: String)(
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
    * Scale shape: [[NodeKernel]] — per iteration one
    * [[RddKernel.combine]] long sum keyed by destination (exact, so
    * the combine order cannot move a rank), then a narrow co-partitioned
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
    k.frame(ranks, StructField("rank_nanos", LongType, nullable = false))(Seq(_))
  }

  /** One PageRank round on the kernel (package-private for the
    * lineage audit). */
  private[graft] def rankStep(k: NodeKernel)(ranks: RDD[(Long, Long)]): RDD[(Long, Long)] =
    k.round(k.adjacency, ranks)((r: Long, deg: Int) => Some(Math.multiplyExact(85L, r) / (100L * deg)))(
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
    * histograms combine per destination in [[RddKernel.combine]] (one
    * shuffle); the arg-max is a scan of each node's histogram, never a
    * sort of a hub's votes. The seed table is shipped to the kernel
    * partitioner once ([[RddKernel.ship]]) to seed the state. A run is ONE Spark job (plus a lineage cut every
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
    val seedRows = k.ship(seeds.select(col(idCol).cast(LongType), col(labelCol).cast(IntegerType))
      .queryExecution.toRdd
      .flatMap(r => if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((r.getLong(0), r.getInt(1).toLong))))
    // state = (clamped seed label, current label)
    val init = k.adjacency.zipPartitions(seedRows, preservesPartitioning = true) { (adj, s) =>
      val seed = mutable.LongMap.from(s)
      adj.map { case (id, _) => val l = seed.getOrElse(id, NoLabel); (id, (l, l)) }
    }
    val labels = k.iterate(init, iterations, None)(labelStep(k))
    k.frame(labels, StructField("label", IntegerType, nullable = true)) { s =>
      Seq(if (s._2 == NoLabel) null else s._2.toInt)
    }
  }

  /** One label-propagation round on the kernel (package-private for
    * the lineage audit). */
  private[graft] def labelStep(k: NodeKernel)(
      labels: RDD[(Long, (Long, Long))]): RDD[(Long, (Long, Long))] =
    k.round(k.adjacency, labels)((s: (Long, Long), _: Int) => if (s._2 == NoLabel) None else Some(s._2))(
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

  /** Connected components on the kernel's [[NodeKernel.undirected]]
    * adjacency — the algorithm behind [[Dedup.connectedComponents]],
    * which documents it. Round 1, min(self, min neighbour), is the
    * start state; each of up to `maxIter - 1` later rounds is one job:
    * [[componentStep]], then the changed-node count over the round's
    * local-checkpointed state. Returns (id, cluster_id), materialized.
    */
  private[graft] def componentsOn(k: NodeKernel, maxIter: Int): DataFrame = {
    var converged = false
    // state: (label, label before the round); round 1 starts from the ids
    val start = k.undirected.mapPartitions(_.map { case (id, nbrs) =>
      (id, (nbrs.foldLeft(id)(math.min), id))
    }, preservesPartitioning = true)
    var rounds = 0
    val settled = (_: RDD[(Long, (Long, Long))], n: RDD[(Long, (Long, Long))]) => {
      converged = n.filter { case (_, (l, was)) => l != was }.count() == 0
      converged
    }
    val labels = k.iterate(start, maxIter - 1, Some(settled)) { l =>
      rounds += 1
      componentStep(k, jump = rounds > 1)(l)
    }
    if (!converged)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"connectedComponents: not converged after $maxIter rounds — " +
          "clusters with diameter > maxIter are split; raise maxIter")
    k.idFrame(labels.mapValues(_._1), "cluster_id")
  }

  /** One components round over (label, label before the last round)
    * states (package-private for the lineage audit): a node's new
    * label is the min of its label, its neighbours' labels (a
    * map-side-combined min message) and, with `jump`, its label's
    * label. Only a node whose label changed in the last round sends
    * it: an unchanged neighbour's label was already in the last
    * round's min. The jump is a request/reply under the kernel's
    * partitioner: requests are keyed by label and combined map-side,
    * and only a label whose own label is lower replies.
    */
  private[graft] def componentStep(k: NodeKernel, jump: Boolean)(
      labels: RDD[(Long, (Long, Long))]): RDD[(Long, (Long, Long))] = {
    val viaNbrs = k.round(k.undirected, labels)(
      (s: (Long, Long), _: Int) => if (s._1 != s._2) Some(s._1) else None)(
      (l: Long) => l, math.min(_: Long, _: Long), math.min(_: Long, _: Long))(
      (s, in) => (in.fold(s._1)(math.min(s._1, _)), s._1))
    if (!jump) viaNbrs
    else {
      val asks = k.gather(labels.flatMap { case (id, (l, _)) =>
        if (l == id) None else Some((l, java.lang.Long.valueOf(id)))
      })
      val replies = k.ship(labels.zipPartitions(asks) { (st, in) =>
        val labelOf = mutable.LongMap.from(st.map { case (id, (l, _)) => (id, l) })
        in.flatMap { case (l, ids) =>
          val ll = labelOf(l)
          if (ll < l) ids.iterator.map((_, ll)) else Iterator.empty
        }
      })
      viaNbrs.zipPartitions(replies, preservesPartitioning = true) { (st, in) =>
        val jumped = mutable.LongMap.from(in)
        st.map { case (id, (l, was)) => (id, (jumped.get(id).fold(l)(math.min(l, _)), was)) }
      }
    }
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected edge list — the dedup-QA companion to
    * [[Dedup.connectedComponents]]: a near-dup cluster whose nodes
    * have clustering ≈ 1 is a genuine clique of mutual duplicates,
    * while a large cluster full of low-clustering nodes was merged by
    * TRANSITIVE CHAINS (A~B~C with A≁C) — the classic LSH
    * over-merge signature that pairwise thresholds can't see.
    *
    * Algorithm: the degree-ordered node iterator (Suri & Vassilvitskii,
    * WWW 2011). Each edge is oriented from its (degree, id)-smaller
    * endpoint to its larger one; every triangle is enumerated once, at
    * its smallest-ranked vertex x, as a wedge (x→y, x→z) that closes
    * iff the oriented edge y→z exists. Orientation caps a node's
    * oriented out-degree at O(√m) on any graph — total work O(m^1.5),
    * vs the unordered iterator's O(Σ d²) that a single hub makes
    * quadratic. Per-node counts are orientation-invariant, so an
    * id-ordered SQL oracle reproduces them exactly.
    *
    * Scale shape: [[NodeKernel]] over the undirected adjacency (a
    * node's degree is the length of its list). One message round
    * sends each node's rank to its neighbours, which keep the
    * higher-ranked ones as their oriented out-list; each x ships, per
    * oriented neighbour y, the rest of its rank-ordered list to y's
    * partition, where it is closed against y's own out-list; per-node
    * counts are a map-side-combined count. Nothing but longs shuffles,
    * no driver-side graph, one job.
    *
    * Returns (node, degree, n_triangles, clustering) for every node
    * with degree ≥ 1, clustering = 2T / (d(d−1)) rounded to 6 dp
    * (0.0 for d < 2). Pairs with a null endpoint and self-loops are
    * dropped.
    */
  def triangleStats(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame =
    withKernel(pairs, aCol, bCol)(trianglesOn)

  private def trianglesOn(k: NodeKernel): DataFrame = {
    val counts = k.frame(triangleCounts(k), StructField("degree", LongType, nullable = false),
      StructField("n_triangles", LongType, nullable = false)) { case (d, t) => Seq(d, t) }
    counts.select(col("id").as("node"), col("degree"), col("n_triangles"),
      graft.functions.MathFunctions.roundTo(when(col("degree") >= 2,
          lit(2.0) * col("n_triangles").cast(DoubleType) /
            (col("degree").cast(DoubleType) * (col("degree") - 1).cast(DoubleType)))
        .otherwise(lit(0.0)), 6).as("clustering"))
  }

  /** node → (degree, n_triangles) for every node with degree ≥ 1, lazy
    * (package-private for the lineage audit). */
  private[graft] def triangleCounts(k: NodeKernel): RDD[(Long, (Long, Long))] = {
    val rank = k.undirected.mapPartitions(_.map { case (id, nbrs) => (id, (nbrs.length, id)) },
      preservesPartitioning = true)
    // node → (degree, higher-ranked neighbours in rank order)
    val oriented = k.hold(k.round(k.undirected, rank)((r: (Int, Long), _: Int) => Some(r))(
      (r: (Int, Long)) => mutable.ArrayBuffer(r),
      (b: mutable.ArrayBuffer[(Int, Long)], r: (Int, Long)) => b += r,
      (a: mutable.ArrayBuffer[(Int, Long)], b: mutable.ArrayBuffer[(Int, Long)]) => a ++= b)(
      (me, nbrs) => (me._1.toLong,
        nbrs.fold(Array.empty[Long])(_.filter(r => RankOrder.lt(me, r)).sorted(RankOrder).map(_._2).toArray))))
    val wedges = k.ship(oriented.flatMap { case (x, (_, out)) =>
      Iterator.range(0, out.length - 1)
        .map(i => (out(i), (x, java.util.Arrays.copyOfRange(out, i + 1, out.length))))
    })
    val closed = k.combine(wedges.zipPartitions(oriented) { (ws, os) =>
      val outOf = mutable.LongMap.from(os.map { case (y, (_, out)) => (y, out.sorted) })
      ws.flatMap { case (y, (x, zs)) =>
        val out = outOf(y)
        val zIn = zs.filter(java.util.Arrays.binarySearch(out, _) >= 0)
        if (zIn.isEmpty) Iterator.empty
        else Iterator((x, zIn.length.toLong), (y, zIn.length.toLong)) ++ zIn.iterator.map((_, 1L))
      }
    })((n: Long) => n, (_: Long) + (_: Long), (_: Long) + (_: Long))
    oriented.zipPartitions(closed, preservesPartitioning = true) { (os, cs) =>
      val n = mutable.LongMap.from(cs)
      os.collect { case (v, (d, _)) if d > 0 => (v, (d, n.getOrElse(v, 0L))) }
    }
  }

  /** Node rank for triangle orientation: by degree, then by id. */
  private val RankOrder: Ordering[(Int, Long)] = Ordering.Tuple2[Int, Long]

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
    * Scale shape: [[graphSuite]] (one kernel, the pair set read once)
    * and then a map-side-combined aggregation keyed by cluster id.
    * `avgClustering`
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
    * Scale shape: one [[NodeKernel]] reads `pairs` once into its
    * undirected adjacency, and both algorithms run on it, each
    * materializing its node-sized result; the final composition is
    * one node-keyed equi-join of the two.
    */
  def graphSuite(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    // 32 rounds: Dedup.connectedComponents' default
    val (cc, tri) = withKernel(pairs, aCol, bCol)(k => (componentsOn(k, 32), trianglesOn(k)))
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
