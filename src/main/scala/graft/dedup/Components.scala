package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate PAIR list — the step
  * that turns `minhashPairs`/`simhashPairs`/`cosinePairs` output into
  * an actionable dedup decision: every document in a component is a
  * mutual (transitive) near-duplicate, the smallest id is the
  * canonical survivor.
  *
  * Algorithm: min-label propagation with POINTER JUMPING. Each round
  * (a) lowers every node's label to the minimum over its neighbors'
  * labels (one shuffle keyed by node), then (b) jumps `lbl ←
  * label(lbl)` (one shuffle keyed by label), which halves chain depth
  * — so convergence is O(log diameter) rounds, not O(diameter): a
  * 1M-node path needs ~20 rounds, not 1M. Per-round state is one
  * (node, label) frame of 16 bytes/node; the previous round is
  * unpersisted as soon as the next materializes, so peak footprint is
  * two label frames regardless of round count. On the distributed
  * path the driver sees only the one-row convergence probe per round
  * — labels never collect; graphs small enough to fit in a few driver
  * MBs short-circuit to a union-find instead (see
  * [[connectedComponents]]).
  */
object Components {

  /** (node, component) for every node appearing in `pairs`;
    * `component` = the smallest node id reachable via pair edges.
    *
    * ADAPTIVE PLAN: the deduped edge list must fully materialize once
    * no matter what (it feeds every propagation round), so its exact
    * count is free. When the graph is small — `edgeCount ≤
    * smallGraphMaxEdges`, i.e. bounded MBs — the edges collect to the
    * driver and a union-find labels them in microseconds: a fixpoint
    * of distributed rounds on a driver-sized graph pays multiple
    * shuffle/checkpoint latencies per round for no parallelism gain
    * (same reasoning as [[Dedup.minhashPairs]]'s bounded all-pairs
    * branch). Larger graphs run the distributed loop, whose shuffle
    * width follows the materialized label frame (AQE-sized), not the
    * session default — a toy graph in a wide session must not pay
    * 32-way shuffle orchestration per round, and a 100 TB graph keeps
    * its width.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 30,
                          smallGraphMaxEdges: Long = 500000): DataFrame = {
    val e0 = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    // symmetric edge list PLUS self-loops, deduped once and pinned for
    // the loop. The self-loop makes each round's neighbor-min already
    // include the node's own label — min over N(v) ∪ {v} — so the
    // round needs no separate "lower against own label" join.
    // ONE explode pass, not a 4-way union (r16): the union evaluated
    // the `pairs` subtree once PER BRANCH — for LSH pair frames that
    // is four band-join + exact-verify passes where one suffices
    // (measured: the components stage of e2e_pipeline dropped ~3 s at
    // sf0.1). The exploded multiset is identical, so the distinct —
    // and everything downstream — is unchanged.
    val edges = e0.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")),
        struct(col("src").as("s"), col("src").as("d")),
        struct(col("dst").as("s"), col("dst").as("d")))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
      .distinct().persist()
    // Every round's frame is localCheckpoint'ed, not just cached:
    // round i's plan references round i-1 TWICE (the pointer jump is
    // a self-join), so without lineage truncation the logical plan
    // doubles per round — exponential planner memory that OOMs the
    // driver long before data size matters. Checkpointing pins the
    // computed rows and resets the plan to a leaf. (On a cluster with
    // lineage-reliability requirements, swap for reliable
    // `checkpoint()` against a checkpoint dir; the shape is the same.)
    // materializes the cache; both paths below then read edges for free
    val edgeCount = edges.count()
    if (edgeCount <= smallGraphMaxEdges) {
      // driver union-find (path halving; smaller root wins, matching
      // the distributed min-label semantics). Collected as tuples, an
      // edge costs ~48 B on-heap (Tuple2 + two boxed Longs), and the
      // two hash maps add ~50 B/node — budget ~100 B/edge, so the
      // 500k default caps the driver footprint near 50 MB, not the
      // 16 B/edge a raw-payload estimate would suggest.
      val sp = pairs.sparkSession
      import sp.implicits._
      val rows = edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
      val parent = new java.util.HashMap[Long, Long](rows.length * 2)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) {
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
        }
        x
      }
      rows.foreach { case (s, d) =>
        val (ra, rb) = (find(s), find(d))
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val nodes = new java.util.HashSet[Long](rows.length * 2)
      rows.foreach { case (s, d) => nodes.add(s); nodes.add(d) }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
      nodes.forEach(n => out += ((n, find(n))))
      edges.unpersist(false)
      return out.toSeq.toDF("node", "component")
    }
    // initial labels already fold in round one of propagation: the
    // self-loops make min(dst) = min(self, direct neighbors), so the
    // node-set enumeration IS the first propagation round
    var labels = edges.groupBy(col("src").as("n"))
      .agg(F.min(col("dst")).as("lbl"))
      .localCheckpoint(true)
    // loop shuffle width = the materialized label frame's width: AQE
    // has already sized it to the actual data volume
    val loopParts = math.max(labels.rdd.getNumPartitions, 1)
    def pin(df: DataFrame, k: String) = df.repartition(loopParts, col(k))
    // Convergence probe: per-node labels are MONOTONICALLY non-
    // increasing (neighbor-min can only lower them; the jump target
    // label(lbl) ≤ lbl because every node's label ≤ its own id), so
    // the label SUM strictly decreases until the fixpoint. Comparing
    // sums needs one tiny aggregate on the frame the round
    // materializes anyway — no extra join against the previous round.
    // Decimal accumulation keeps the sum exact for any node-id range.
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(F.sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = lblSum(labels)
    var iters = 0
    var done = prevSum == null // empty pair list: nothing to propagate
    while (!done && iters < maxIters) {
      // (a) min over N(v) ∪ {v} labels — one shuffle keyed by node.
      // The aggregation keeps Catalyst's partial/final split (map-side
      // combine collapses hot-node edge fans before the shuffle).
      val lowered = edges
        .join(labels.select(col("n").as("dst"), col("lbl").as("nlbl")), "dst")
        .groupBy(col("src").as("n"))
        .agg(F.min(col("nlbl")).as("lbl"))
      // (b) pointer jump: follow the label's own label. LAZY
      // checkpoint: the convergence probe right below is the round's
      // only action — it materializes the checkpoint as a side
      // effect, so each round costs ONE Spark job, not two.
      val next = pin(lowered, "lbl")
        .join(pin(lowered.select(col("n").as("lbl"), col("lbl").as("jump")), "lbl"),
          Seq("lbl"), "left")
        .select(col("n"), coalesce(col("jump"), col("lbl")).as("lbl"))
        .localCheckpoint(false)
      val nextSum = lblSum(next)
      labels = next // superseded checkpoints are GC'd by the ContextCleaner
      done = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iters += 1
    }
    edges.unpersist(false)
    // SAFETY VALVE, loud by contract: pointer jumping converges in
    // O(log diameter) rounds, so the default 30 covers any graph that
    // can physically exist (diameter ~2^30). Hitting the bound means
    // the fixpoint is broken, not the graph big — returning the
    // unconverged frame would silently mislabel components in a
    // 100 TB dedup pass, the one failure mode worse than failing.
    if (!done)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          s"($edgeCount edges; label sum still decreasing: $prevSum). " +
          "This indicates a broken fixpoint, not a large graph — " +
          "pointer jumping needs ~log2(diameter) rounds. Raise maxIters " +
          "only if the graph's diameter genuinely exceeds 2^maxIters.")
    labels.select(col("n").as("node"), col("lbl").as("component"))
  }

  /** Keep one document per near-duplicate component (the smallest id)
    * plus every document not mentioned in `pairs` — the "collapse
    * duplicates" end of a dedup pipeline. Anti-join on the loser set:
    * the full table never shuffles by anything but the join key.
    */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                   aCol: String, bCol: String,
                   smallGraphMaxEdges: Long = 500000): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol, smallGraphMaxEdges = smallGraphMaxEdges)
      .filter(col("node") =!= col("component"))
      .select(col("node"))
    df.join(losers, df(idCol) === losers("node"), "left_anti")
  }

  /** Keep the BEST-scoring document per near-duplicate component
    * (ties → smallest id) plus every document not mentioned in
    * `pairs` — the quality-aware collapse: near-duplicates usually
    * differ (one is truncated, one is boilerplate-wrapped), and the
    * keeper should be chosen by a quality signal (token count,
    * quality score), not by id accident as [[dedupByPairs]] does.
    * Winner selection is ONE component-keyed aggregate (max over a
    * (score, -id) struct — no window, no per-component sort); the
    * corpus itself only ever joins by id (losers anti join), so the
    * shuffle shape matches [[dedupByPairs]] plus that aggregate.
    */
  def dedupByPairsBest(df: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String, bCol: String,
                       scoreCol: Column,
                       smallGraphMaxEdges: Long = 500000): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol, smallGraphMaxEdges = smallGraphMaxEdges)
    val scored = df
      .select(col(idCol).cast("long").as("node"), scoreCol.cast("double").as("_score"))
      .join(comp, "node")
    val winners = scored
      .groupBy(col("component"))
      // max score, ties -> smallest id (negated id inverts the order)
      .agg(max(struct(col("_score").as("s"), (-col("node")).as("negid"))).as("w"))
      .select((-col("w.negid")).as("winner"))
    val losers = scored
      .join(winners, scored("node") === winners("winner"), "left_anti")
      .select(col("node"))
    df.join(losers, df(idCol) === losers("node"), "left_anti")
  }
}
