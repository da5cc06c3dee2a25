package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._


/** Distributed connected components over a pair/edge DataFrame — the step
  * that turns near-dup PAIRS (MinHash/SimHash/cosine candidates, e.g.
  * `Dedup.minHashDedup` output) into dedup CLUSTERS with one canonical
  * representative each: pairs alone under-dedup chains (A~B, B~C but A≁C
  * never pairs; all three are one template family).
  *
  * Algorithm: iterative min-label propagation — every node repeatedly
  * adopts the minimum label among itself and its neighbors until a fixed
  * point; converges in O(component diameter) rounds (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014 — their
  * star-contraction variants cut rounds to O(log n) for pathological
  * diameters; dedup clusters are near-cliques with diameter ≤ ~3, where
  * plain propagation is already optimal and does one shuffle per round).
  *
  * Scale shape: only (node, label) longs ever shuffle — never documents;
  * the symmetrized edge set is computed once and reused each round; each
  * round's result is `localCheckpoint`ed so the iterative lineage (and
  * with it the replay cost of a lost partition) stays O(1) rather than
  * O(rounds); convergence is detected with a count aggregate on the
  * changed-label set (one tiny job per round). Each round's checkpoint is
  * unpersisted once the next one is materialized (and the edge set after
  * convergence), so executor storage holds at most two label snapshots at
  * any moment instead of O(rounds) — at 10⁹ nodes × 25 rounds the
  * difference between steady state and an executor-memory leak. The
  * RETURNED DataFrame is itself a checkpoint; call [[unpersist]] on it
  * when the session is done with the labels.
  */
object Graph {

  /** Release the storage behind a `localCheckpoint`ed DataFrame (such as
    * the labels returned by [[connectedComponents]]). `Dataset.unpersist`
    * can't reach it: a local checkpoint lives as a persisted RDD behind a
    * `LogicalRDD` leaf, not in the SQL cache manager. No-op on anything
    * that isn't a checkpoint leaf. */
  def unpersist(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Symmetrize `edges` in ONE pass: explode each row into both
    * directions instead of union-ing two selects of the same subtree —
    * a union's legs each re-execute the (often expensive: scan + window)
    * edge derivation, doubling its scans and exchanges. Result set is
    * identical to select(a,b) ∪ select(b,a). With `selfLoops`, each
    * endpoint also emits (n, n) — min-label propagation then reads a
    * node's OWN label out of the same neighbor join, retiring the
    * per-round `labels ∪ joined` union leg (one stage fewer per round;
    * the self-pair contributes exactly the row the union leg carried). */
  private def symmetrized(edges: DataFrame, src: String, dst: String,
                          selfLoops: Boolean = false): DataFrame = {
    val both = Seq(
      struct(col(src).as("a"), col(dst).as("b")),
      struct(col(dst).as("a"), col(src).as("b")))
    val pairs = if (selfLoops) both ++ Seq(
      struct(col(src).as("a"), col(src).as("b")),
      struct(col(dst).as("a"), col(dst).as("b"))) else both
    edges.select(explode(array(pairs: _*)).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
  }

  /** The materialized block-manager RDD behind a checkpointed DataFrame.
    * Convergence probes (a sum or count per round) run directly on it:
    * a DataFrame aggregate re-enters Catalyst + AQE per round (~2 planned
    * jobs and their driver gaps), where the RDD fold is one unplanned
    * job over in-memory blocks — same number, none of the latency. */
  private def checkpointRdd(df: DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      case _ => df.queryExecution.toRdd
    }

  /** Exact Σ of a long column over a checkpointed DataFrame as a
    * BigInteger (1e11 nodes × 64-bit ids overflows a long sum): longs
    * accumulate in a local register and spill to BigInteger only on
    * imminent overflow, so the per-row cost stays one add + one branch. */
  private def rddLongSum(df: DataFrame, column: String): java.math.BigInteger = {
    val idx = df.schema.fieldIndex(column)
    checkpointRdd(df).mapPartitions { it =>
      var big = java.math.BigInteger.ZERO
      var chunk = 0L
      while (it.hasNext) {
        val v = it.next().getLong(idx)
        val nc = chunk + v
        if (((chunk ^ nc) & (v ^ nc)) < 0L) { // two's-complement overflow
          big = big.add(java.math.BigInteger.valueOf(chunk)); chunk = v
        } else chunk = nc
      }
      Iterator.single(big.add(java.math.BigInteger.valueOf(chunk)))
    }.fold(java.math.BigInteger.ZERO)(_ add _)
  }

  /** The static big relation of an iterative operator, checkpointed WITH
    * its hash partitioning declared ([[SqlInternals
    * .localCheckpointPartitioned]]): every round's equi-join on `keys`
    * then streams it in place — no per-round exchange, no accidental
    * broadcast of the edge set (observed at bench scale: rounds 2+ chose
    * to broadcast the 904k-row symmetrized edge list and stream the 20k
    * labels on the 1–2 AQE-coalesced label partitions — serialized
    * rounds locally, an executor OOM at web scale). Declared statistics
    * are the TRUE stored bytes, so the build side of every round join is
    * chosen from real sizes: the small side broadcasts while genuinely
    * small, and the edge set can never win the broadcast slot again. */
  private def checkpointKeyed(df: DataFrame, keys: String*): DataFrame =
    org.apache.spark.sql.graft.SqlInternals
      .localCheckpointPartitioned(df, keys)

  /** Plain local checkpoint whose declared statistics are the TRUE stored
    * bytes ([[SqlInternals.localCheckpointSized]]): per-round label/rank
    * snapshots keep broadcasting exactly while they are genuinely small. */
  private def checkpointSized(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.SqlInternals.localCheckpointSized(df)

  def connectedComponents(edges: DataFrame, src: String = "id1",
                          dst: String = "id2", maxIter: Int = 25): DataFrame = {
    // self-loops fold the "own label" leg into the neighbor join: each
    // round is join + aggregate, no union (result set unchanged — the
    // (n, n) pair delivers exactly the row the union leg used to carry)
    val sym = checkpointSized(symmetrized(edges, src, dst, selfLoops = true)
      .distinct()) // computed once; every round streams it in place
    var labels = checkpointSized(sym.select(col("a").as("node")).distinct()
      .withColumn("component", col("node")))
    // convergence check: labels only ever DECREASE under min-propagation,
    // so the fixed point is reached exactly when Σ labels stops falling —
    // one unplanned RDD fold over the round's checkpoint blocks per round
    // (a DataFrame aggregate would re-enter Catalyst + AQE every round)
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigInteger =
      rddLongSum(df, "component")
    if (checkpointRdd(labels).isEmpty()) { unpersist(sym); return labels } // no edges
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    try {
      while (!converged && iter < maxIter) {
        // candidate labels: own (via self-loop) ∪ every neighbor's label
        val next = checkpointSized(sym
          .join(labels.withColumnRenamed("node", "b"), "b")
          .groupBy(col("a").as("node")).agg(min("component").as("component")))
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        unpersist(labels) // next is materialized; the old snapshot is dead
        labels = next
        iter += 1
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise it or contract stars first")
    } catch {
      // error path (incl. non-convergence): the caller never receives
      // `labels`, so release the current snapshot here or it leaks
      case t: Throwable => unpersist(labels); throw t
    } finally unpersist(sym)
    labels
  }

  /** PageRank over `edges(src, dst)` with damping 0.85, a FIXED number of
    * power iterations, and fixed-point integer arithmetic (ranks scaled by
    * `scale`): rankₜ₊₁(v) = 0.15·scale + Σ_{u→v} (rankₜ(u)·17 div 20) div
    * outdeg(u). All-integer floor division makes every iteration
    * bit-identical on any engine, partitioning, or summation order — the
    * float formulation is NOT (double addition is order-sensitive), which
    * is why the fixed-point variant is the reproducible-pipeline choice.
    * Dangling nodes (no out-edges) absorb rank but redistribute none — the
    * standard simplified treatment; total mass decays slightly, rankings
    * are unaffected for connected link graphs.
    *
    * Scale shape: out-degrees are joined to the edge list ONCE
    * (localCheckpoint'd); each iteration is one hash join of the current
    * (node, rank) longs against that edge list plus one groupBy(dst) sum —
    * only 16-byte pairs shuffle, never payloads; per-round checkpoints
    * keep lineage O(1) and the previous round's storage is freed as soon
    * as the next is materialized (same discipline as
    * [[connectedComponents]]). The returned DataFrame is a checkpoint —
    * [[unpersist]] it when done. */
  def pageRank(edges: DataFrame, src: String = "src", dst: String = "dst",
               iterations: Int = 5, scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, "pageRank: iterations must be >= 1")
    // checkpoint the distinct edge set BEFORE fanning it into outDeg +
    // the degree join: both consumers otherwise re-execute the caller's
    // whole edge derivation (typically a scan + window), doubling its
    // scans and exchanges
    val e = edges.select(col(src).as("src"), col(dst).as("dst")).distinct()
      .localCheckpoint()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val linked = checkpointSized(e.join(outDeg, "src")
      .select(col("src"), col("dst"), col("deg")))
      // per-iteration reuse: joined once, streamed in place each round
    unpersist(e) // linked is materialized; the raw edge snapshot is dead
    val nodes = checkpointSized(linked.select(col("src").as("node"))
      .unionByName(linked.select(col("dst").as("node")))
      .distinct())
    val base = lit(3L * scale / 20L) // 0.15 · scale, exactly
    var ranks = checkpointSized(nodes.withColumn("rank", lit(scale)))
    try {
      for (_ <- 1 to iterations) {
        val next = checkpointSized(pageRankStep(linked, nodes, ranks, base))
        unpersist(ranks)
        ranks = next
      }
      ranks
    } catch {
      // a failed iteration means the caller never sees `ranks` — release
      // the current snapshot instead of leaking it
      case t: Throwable => unpersist(ranks); throw t
    } finally { unpersist(linked); unpersist(nodes) }
  }

  /** One power iteration: rankₜ₊₁ = base + Σ incoming contributions.
    * Pure integer arithmetic → the result SET is identical under any
    * partitioning or execution order, which is what makes crash-resume
    * ([[pageRankResumable]]) bit-identical to a straight-through run. */
  private def pageRankStep(linked: DataFrame, nodes: DataFrame,
                           ranks: DataFrame,
                           base: org.apache.spark.sql.Column): DataFrame = {
    val contrib = linked
      .join(ranks.withColumnRenamed("node", "src"), "src")
      .select(col("dst").as("node"),
        expr("((rank * 17) div 20) div deg").as("c"))
    // one zero row per node unioned under the SAME aggregate replaces the
    // old groupBy + left-join-back-to-nodes: the aggregate's key set is
    // then exactly the node set and rank = base + (0 + Σ contributions) —
    // identical integer math, one join and one AQE stage fewer per round,
    // and the single exchange of (node, c) longs is the algorithm's floor
    // (contributions must cross from src- to dst-keyed partitions)
    nodes.select(col("node"), lit(0L).as("c"))
      .unionByName(contrib)
      .groupBy("node").agg((base + sum(col("c"))).as("rank"))
  }

  /** Per-node triangle counts over the undirected graph `edges(src, dst)`
    * — the local clustering / spam-farm signal. Degree-oriented wedge
    * join (Cohen, "Graph Twiddling in a MapReduce World", CiSE 2009; also
    * Suri & Vassilvitskii, WWW 2011): every edge is oriented from its
    * lower-(degree, id) endpoint to the higher, so wedges are only
    * enumerated AT their lowest-degree vertex — a hub of degree d
    * contributes O(d) oriented edges but never O(d²) wedges, which is the
    * difference between a web graph finishing and an executor OOM. Each
    * triangle is counted exactly once (the orientation is a total order;
    * the triangle set is orientation-independent, which is why the
    * id-ordered oracle agrees). Self-loops drop; parallel edges collapse.
    *
    * Scale shape: wedge join and closing join are equi-joins on node ids
    * carrying (id, degree) longs only; output explodes each triangle to
    * its 3 corners and counts per node. The oriented edge list feeds the
    * plan three times (both wedge legs + the closing probe), so it is
    * `localCheckpoint`ed ONCE — ~24 bytes/edge, computed once instead of
    * three canonicalize+degree-join passes; Spark's ContextCleaner frees
    * the snapshot when the result goes out of scope. */
  def triangleCounts(edges: DataFrame, src: String = "src",
                     dst: String = "dst"): DataFrame = {
    // checkpoint the canonical set: the core fans it into the degree
    // aggregate AND the orientation join — un-materialized, the caller's
    // edge derivation (scan + window) would execute once per consumer.
    // The core materializes `or` eagerly, after which the canonical
    // snapshot is dead — release it before returning.
    val canon = edges
      .select(least(col(src), col(dst)).as("u"), greatest(col(src), col(dst)).as("v"))
      .where(col("u").isNotNull && col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    try triangleCornerCounts(canon) finally unpersist(canon)
  }

  /** [[triangleCounts]]' core over an ALREADY canonical (u < v),
    * duplicate-free edge set — split out so [[triangleEstimate]] can
    * sample the canonical set without paying a second distinct. */
  private def triangleCornerCounts(canon: DataFrame): DataFrame = {
    val deg = canon.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient each edge low→high in the (degree, id) total order; carry the
    // destination's order key so wedge pairs can themselves be ordered.
    // Keyed checkpoint on the wedge apex: both wedge legs stream the same
    // a-partitioned snapshot — the self-join needs no exchange and no sort
    val or = checkpointKeyed(canon
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("a"), col("v").as("b"), col("dv").as("db")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"), col("du").as("db")))
          .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"), col("e.db").as("db")),
      "a")
    // both wedge legs stream the same a-partitioned snapshot: no exchange
    // on either side (when the oriented set is small enough to broadcast,
    // its TRUE-size stats still allow it — adaptivity preserved)
    val wedge = or.select(col("a"), col("b"), col("db"))
      .join(or.select(col("a"), col("b").as("c"), col("db").as("dc")), "a")
      .where(struct(col("db"), col("b")) < struct(col("dc"), col("c")))
    val tri = wedge.join(
      or.select(col("a").as("b"), col("b").as("c")),
      Seq("b", "c"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** DOULION (Tsourakakis et al., KDD 2009): global triangle-count
    * estimate by edge sparsification — keep each canonical edge iff
    * portableHash("a_b") mod `den` < `num` (sampling rate p = num/den;
    * hash-derived, so the sample is deterministic and oracle-replayable,
    * where the paper flips coins), count triangles EXACTLY on the sampled
    * graph via [[triangleCounts]]' degree-oriented wedge join, scale by
    * (den/num)³. The paper proves the estimator unbiased with variance
    * vanishing as edges grow — the regime 100 TB graphs live in; at p=1/2
    * the wedge join (the superlinear term) does ~1/4 the work, and smaller
    * p buys more.
    *
    * This is the documented scale alternative to exact [[triangleCounts]]
    * (q90), whose wedge volume grows with degree². One row:
    * (n_edges, n_sampled, tri_sampled, tri_est). */
  def triangleEstimate(edges: DataFrame, num: Int = 1, den: Int = 2,
                       src: String = "src", dst: String = "dst"): DataFrame = {
    require(num > 0 && den >= num, s"need 0 < num <= den, got $num/$den")
    val canon = edges
      .select(least(col(src), col(dst)).as("u"), greatest(col(src), col(dst)).as("v"))
      .where(col("u").isNotNull && col("u") =!= col("v"))
      .distinct()
      .localCheckpoint() // canonical edge set feeds stats + sample once
    val keep = pmod(graft.text.TextAnalysis.portableHash(
      concat_ws("_", col("u"), col("v"))), lit(den.toLong)) < lit(num.toLong)
    // scale in doubles: integer (den³/num³) truncates for any num ∤ den
    // (e.g. 2/3 would scale by 3 instead of 3.375 — a systematic ~11%
    // underestimate); rounded back to long so divisible ratios are exact
    val scale = math.pow(den.toDouble / num, 3)
    // a hash sample of a distinct canonical set is itself distinct and
    // canonical — feed the core directly, no second distinct
    val tri = triangleCornerCounts(canon.where(keep))
      .agg(coalesce(floor(sum(col("triangles")) / 3), lit(0L)).cast("long")
        .as("tri_sampled"))
      .withColumn("tri_est",
        round(col("tri_sampled") * lit(scale)).cast("long"))
    // both edge counts in ONE pass over the checkpointed set
    canon.agg(count(lit(1)).as("n_edges"),
        count(when(keep, lit(1))).as("n_sampled"))
      .crossJoin(tri) // two 1-row aggregates — the only cross join
  }

  /** k-core decomposition membership: the maximal subgraph in which every
    * node has degree ≥ k, found by iterative peeling (Matula & Beck, JACM
    * 1983; Montresor et al., "Distributed k-Core Decomposition", TPDS 2013
    * for the message-passing formulation) — the spam/bot-farm and
    * link-graph quality filter: low-core nodes are leaves and chains,
    * high-core nodes sit in dense communities.
    *
    * Runs FULL ROUNDS (remove every node with degree < k simultaneously,
    * recompute), so the result after r rounds is a pure function of the
    * graph — no peel-order nondeterminism — and equals the true k-core
    * once a round removes nothing. `maxRounds` bounds the work; each round
    * is a degree aggregate plus two semi-joins shuffling (node, degree)
    * longs, with the same per-round localCheckpoint + unpersist discipline
    * as [[connectedComponents]] (lineage O(1), storage ≤ 2 snapshots).
    * Early-exits when converged, which by construction matches an oracle
    * that unrolls exactly `maxRounds` rounds.
    *
    * Returns (node, core_deg): surviving nodes with their degree inside
    * the surviving subgraph. */
  def kCore(edges: DataFrame, k: Int, src: String = "src",
            dst: String = "dst", maxRounds: Int = 6): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(maxRounds >= 1, s"kCore: maxRounds must be >= 1, got $maxRounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("core_deg"))
    var cur = checkpointSized(edges
      .select(least(col(src), col(dst)).as("u"), greatest(col(src), col(dst)).as("v"))
      .where(col("u").isNotNull && col("u") =!= col("v"))
      .distinct())
    try {
      var round = 0
      var converged = false
      // edge count of the CURRENT snapshot, carried across rounds: the
      // old shape re-counted both sides every round (two planned
      // DataFrame counts); this counts each checkpoint once, directly on
      // its materialized RDD blocks (no Catalyst/AQE round-trip)
      var curCnt = checkpointRdd(cur).count()
      while (round < maxRounds && !converged) {
        // keep carries its own (small, aggregate-derived) estimate and
        // broadcasts into both semi-joins while genuinely small; the
        // true-size stats on `cur` keep the edge set off the build side
        val keep = degrees(cur).where(col("core_deg") >= k).select("node")
        val next = checkpointSized(cur
          .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
          .select("u", "v"))
        // equal edge counts ⇒ no node was removed ⇒ fixed point
        // (degrees can only drop via edge loss)
        val nextCnt = checkpointRdd(next).count()
        converged = nextCnt == curCnt
        curCnt = nextCnt
        unpersist(cur)
        cur = next
        round += 1
      }
      val out = degrees(cur).where(col("core_deg") >= k)
      val materialized = out.localCheckpoint()
      materialized
    } finally unpersist(cur)
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan et
    * al., Phys. Rev. E 2007), `rounds` full rounds: every node
    * simultaneously adopts the most frequent label among its neighbors,
    * ties broken by the SMALLEST label — a total order, so unlike the
    * async/random formulation in the paper this is deterministic,
    * partitioning-invariant, and replayable in SQL (the q121 oracle
    * unrolls the same rounds). Labels seed as node ids.
    *
    * Fixed rounds rather than convergence: synchronous LPA can 2-cycle on
    * bipartite-ish structures (known property), so "no change" is not
    * guaranteed — a small fixed round count is the standard practical
    * choice and what the oracle can mirror exactly.
    *
    * Scale shape: per round, one join of (node, label) longs onto the
    * symmetrized edge list + one (node, label) count aggregate + one
    * argmax window over the count rows (partitioned by node — shares the
    * count's hash partitioning). Same per-round localCheckpoint +
    * unpersist discipline as [[pageRank]]. */
  def labelPropagation(edges: DataFrame, src: String = "src",
                       dst: String = "dst", rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"labelPropagation: rounds must be >= 1, got $rounds")
    val sym = checkpointSized(symmetrized(edges, src, dst)
      .where(col("a") =!= col("b"))
      .distinct())
    var labels = checkpointSized(sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")))
    try {
      for (_ <- 1 to rounds) {
        val counts = sym
          .join(labels.withColumnRenamed("node", "b"), "b")
          .groupBy(col("a").as("node"), col("label"))
          .agg(count(lit(1)).as("c"))
        // argmax by count, ties to the SMALLEST label, as a second
        // aggregate: min(struct(-c, label)) orders by count desc then
        // label asc — lexicographic struct comparison IS the window's
        // (c desc, label) order. An aggregate partial-combines map-side
        // (≤ one row per node per partition crosses the exchange) and
        // needs no sort, where the row_number() window this replaces
        // paid Exchange + two sorts per round. Counts are ≥ 1 so the
        // negation can't overflow.
        val next = checkpointSized(counts
          .groupBy("node")
          .agg(min(struct((-col("c")).as("nc"), col("label"))).as("best"))
          .select(col("node"), col("best.label").as("label")))
        unpersist(labels)
        labels = next
      }
      labels
    } catch {
      case t: Throwable => unpersist(labels); throw t
    } finally unpersist(sym)
  }

  /** Commit one round's state as the whole of `stateTable`, keeping every
    * earlier round's version (no retention) for inspection. */
  private def commitRound(spark: SparkSession, stateTable: String,
                          state: DataFrame): Unit =
    Upsert.replace(spark, stateTable, state, retainVersions = Int.MaxValue)

  /** [[pageRank]] with durable per-round state: after every
    * `checkpointEvery` completed rounds (and after the last), the
    * (node, rank) snapshot is committed — with a `__round` marker — to the
    * table at `stateTable` ([[Upsert.replace]]). A restarted job
    * resumes from the latest committed round instead of round 0, so a
    * 100-round run over a real link graph survives a driver loss at the
    * cost of re-running at most `checkpointEvery − 1` rounds.
    *
    * Bit-identical resume: each commit is an atomic version-directory
    * write published by one root manifest swap (Parquet round-trips
    * longs exactly), and every round's state is retained; the
    * iteration is all-integer, so resume(k)+run(k..n) produces exactly the
    * same rank set as a straight run(0..n) — pinned by spec. Local
    * checkpoints (lineage control, session-lifetime) and table commits
    * (durability, restart-lifetime) serve different failure domains; this
    * uses both. */
  def pageRankResumable(spark: SparkSession, edges: DataFrame,
                        stateTable: String,
                        src: String = "src", dst: String = "dst",
                        iterations: Int = 5, scale: Long = 1000000L,
                        checkpointEvery: Int = 1): DataFrame = {
    require(iterations >= 1, "pageRank: iterations must be >= 1")
    require(checkpointEvery >= 1, "pageRank: checkpointEvery must be >= 1")
    // same single-execution checkpoint of the edge derivation as pageRank
    val e = edges.select(col(src).as("src"), col(dst).as("dst")).distinct()
      .localCheckpoint()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val linked = e.join(outDeg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .localCheckpoint()
    unpersist(e)
    val nodes = linked.select(col("src").as("node"))
      .unionByName(linked.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val base = lit(3L * scale / 20L)
    val resumed: Option[(Int, DataFrame)] =
      Upsert.readOption(spark, stateTable).map { st =>
        val round = st.select(max(col("__round"))).head().getInt(0)
        (round, st.select("node", "rank"))
      }
    var done = resumed.map(_._1).getOrElse(0)
    var ranks = resumed.map(_._2.localCheckpoint())
      .getOrElse(nodes.withColumn("rank", lit(scale)).localCheckpoint())
    try {
      while (done < iterations) {
        val next = pageRankStep(linked, nodes, ranks, base).localCheckpoint()
        unpersist(ranks)
        ranks = next
        done += 1
        if (done % checkpointEvery == 0 || done == iterations)
          commitRound(spark, stateTable, ranks.withColumn("__round", lit(done)))
      }
      ranks
    } catch {
      case t: Throwable => unpersist(ranks); throw t
    } finally { unpersist(linked); unpersist(nodes) }
  }

  /** [[connectedComponents]] with durable per-round state, same contract
    * as [[pageRankResumable]]: labels committed to `stateTable` every
    * `checkpointEvery` rounds, resume picks up from the latest commit.
    * Min-label propagation is monotone (labels only decrease) and
    * set-deterministic, so a resumed run converges to the identical
    * labeling. The committed round count keeps the `maxIter` budget
    * honest across restarts. */
  def connectedComponentsResumable(spark: SparkSession, edges: DataFrame,
                                   stateTable: String,
                                   src: String = "id1", dst: String = "id2",
                                   maxIter: Int = 25,
                                   checkpointEvery: Int = 1): DataFrame = {
    require(checkpointEvery >= 1, "cc: checkpointEvery must be >= 1")
    val sym = checkpointSized(symmetrized(edges, src, dst, selfLoops = true)
      .distinct())
    val resumed: Option[(Int, Boolean, DataFrame)] =
      Upsert.readOption(spark, stateTable).map { st =>
        val head = st.select(max(col("__round")), max(col("__converged"))).head()
        (head.getInt(0), head.getBoolean(1), st.select("node", "component"))
      }
    // a state committed at convergence is final — return it without
    // burning a verification round (matters when it converged exactly at
    // the maxIter budget)
    resumed.filter(_._2).foreach { case (_, _, labels) =>
      unpersist(sym)
      return labels.localCheckpoint()
    }
    var iter = resumed.map(_._1).getOrElse(0)
    var labels = resumed.map(_._3.localCheckpoint()).getOrElse(
      sym.select(col("a").as("node")).distinct()
        .withColumn("component", col("node"))
        .localCheckpoint())
    def labelSum(df: DataFrame): java.math.BigInteger =
      rddLongSum(df, "component")
    if (checkpointRdd(labels).isEmpty()) { unpersist(sym); return labels }
    var prevSum = labelSum(labels)
    var converged = false
    try {
      while (!converged && iter < maxIter) {
        // own label arrives via the self-loop pair — join + aggregate only
        val next = sym
          .join(labels.withColumnRenamed("node", "b"), "b")
          .groupBy(col("a").as("node")).agg(min("component").as("component"))
          .localCheckpoint()
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        unpersist(labels)
        labels = next
        iter += 1
        if (iter % checkpointEvery == 0 || converged)
          commitRound(spark, stateTable, labels.withColumn("__round", lit(iter))
            .withColumn("__converged", lit(converged)))
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise it or contract stars first")
    } catch {
      case t: Throwable => unpersist(labels); throw t
    } finally unpersist(sym)
    labels
  }
}
