package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pairs — the step that turns
  * pairwise dedup output (minhash/simhash/embedding pairs) into actionable
  * per-document keep/drop decisions: every doc gets the component's minimum
  * docId as its canonical representative (`rep`); `rep == doc_id` means
  * "keeper".
  *
  * Algorithm: deterministic min-label propagation — each iteration every
  * vertex takes the minimum label among itself and its neighbors; converges
  * to the exact component minimum in O(component diameter) iterations.
  * Near-dup graphs are shallow (clusters of copies, diameter a few hops),
  * so the loop is short; the per-iteration work is one equi-join + one
  * aggregation, both shuffling on the vertex id. At extreme scale the
  * alternating large-star/small-star formulation (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond") halves the iteration
  * count; min-label propagation is the simpler exact baseline and is what
  * the SQL oracle's recursive closure replays.
  */
object Components {

  /** `edges`: undirected pair list (aCol, bCol). `allDocs`/`docCol`:
    * the full vertex universe — docs without any pair are emitted with
    * rep = self. Returns (doc_id, rep).
    */
  def components(edges: DataFrame, aCol: String, bCol: String,
                 allDocs: DataFrame, docCol: String,
                 maxIters: Int = 50): DataFrame = {
    // truncate the INPUT's logical plan first (lazy checkpoint, guide §7.3):
    // the edge list is typically the tail of a deep candidate→verify chain,
    // and persist() alone does NOT truncate logical plans — without this,
    // the union below embeds TWO copies of that chain and every iteration's
    // join/aggregate re-analyzes it (seconds of driver-side Catalyst work
    // per iteration on a plan the executors never run). After the
    // checkpoint, all downstream trees are a few nodes over a LogicalRDD.
    val e = edges.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .localCheckpoint(false)
    // no dedup of the symmetrized edges: the min-aggregation is duplicate-
    // insensitive, and skipping distinct saves its shuffle
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst"))).persist()
    // iterate ONLY over vertices that have an edge — the pair graph is a
    // tiny fraction of the corpus (that's the point of dedup); isolated
    // docs get rep = self in one final left join instead of riding every
    // iteration. localCheckpoint truncates lineage each round — without it
    // the logical plan deepens per iteration and analysis blows up.
    // LAZY localCheckpoint: the convergence aggregate right below is the
    // materializing action, so checkpoint + rep-sum cost ONE Spark job per
    // iteration instead of two (the driver dispatch per job is the serial
    // cost an iterative algorithm pays maxIters times).
    // Initial labels already take min(self, neighbors) — the same shuffle
    // the plain distinct would pay, one loop iteration saved.
    var labels = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("doc"), least(col("src"), col("nmin")).as("rep"))
      .localCheckpoint(false)

    // convergence by the monotone rep-sum: reps only ever decrease, so the
    // fixpoint is reached exactly when the sum stops changing — one cheap
    // aggregate per iteration instead of a change-count join. Decimal sum:
    // arbitrary long ids could overflow a bigint sum.
    def repSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("rep").cast("decimal(38,0)"))).head().getDecimal(0)
      if (v == null) java.math.BigDecimal.ZERO else v
    }
    var prevSum = repSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // neighbor minimum per vertex, then take min(self, neighbors),
      // then pointer-jump through the current rep (path halving: the
      // rep's own rep is in the same component, so the label chain
      // shortens geometrically — O(log diameter) iterations)
      val nbrMin = sym
        .join(labels.select(col("doc").as("dst"), col("rep").as("nrep")), Seq("dst"))
        .groupBy(col("src").as("doc"))
        .agg(min("nrep").as("nmin"))
      val repOf = labels.select(col("doc").as("rj"), col("rep").as("rrep"))
      val next = labels
        .join(nbrMin, Seq("doc"), "left")
        .withColumn("rep1", least(col("rep"), coalesce(col("nmin"), col("rep"))))
        .join(repOf, col("rep1") === col("rj"), "left")
        .select(col("doc"),
          least(col("rep1"), coalesce(col("rrep"), col("rep1"))).as("rep"))
        .localCheckpoint(false) // materialized by repSum's aggregate
      val s = repSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    sym.unpersist()
    // exhausting maxIters without reaching the fixpoint would mean emitting
    // wrong representatives by construction — surface it instead. With
    // pointer jumping the label chain halves per round, so 50 iterations
    // covers diameter ≈ 2^50; hitting this indicates a caller-supplied
    // maxIters too small for the graph, not a plausible real corpus.
    require(converged,
      s"connected components did not converge within $maxIters iterations; " +
        "raise maxIters (labels would be incorrect)")
    // re-attach isolated vertices (no pair ⇒ they are their own keeper)
    allDocs.select(col(docCol).cast("long").as("doc")).distinct()
      .join(labels, Seq("doc"), "left")
      .select(col("doc").as("doc_id"), coalesce(col("rep"), col("doc")).as("rep"))
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", Algorithm 2) —
    * the extreme-scale formulation: instead of propagating labels along
    * original edges (O(diameter) rounds over a fixed edge set), each round
    * REWRITES the edge set toward a star per component, converging in
    * O(log² n) rounds independent of diameter, with per-round work
    * proportional to the current edge count (which only shrinks).
    * Per round:
    *   large-star: every node u connects its LARGER neighbors to
    *     m(u) = min(Γ(u) ∪ u);
    *   small-star: every node u (edges oriented toward the smaller
    *     endpoint) connects its not-larger neighbors and itself to m(u).
    * Both are one groupBy(min) + one equi-join — the same shuffle shape as
    * a round of [[components]]. Fixpoint when the canonical edge set stops
    * changing (checked exactly via a symmetric difference — one extra
    * join-sized job per round, bounded by the O(log² n) round count).
    * Returns (doc_id, rep) with rep = component minimum — identical output
    * to [[components]] (ComponentsSpec asserts equivalence), so the two are
    * drop-in interchangeable; prefer this one when component diameters are
    * unknown or adversarial (long duplication chains).
    */
  def componentsStar(edges: DataFrame, aCol: String, bCol: String,
                     allDocs: DataFrame, docCol: String,
                     maxIters: Int = 50): DataFrame = {
    val e0 = edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
    // lazy checkpoint: the isEmpty probe below materializes it in one job
    var cur = e0.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint(false)
    var converged = cur.isEmpty
    var iter = 0
    while (!converged && iter < maxIters) {
      // large-star over the symmetrized neighborhood of u
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val mLarge = sym.groupBy("u")
        .agg(least(min(col("v")), min(col("u"))).as("m"))
      val afterLarge = sym.join(mLarge, "u")
        .where(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("u"),
          greatest(col("v"), col("m")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
      // small-star: orient toward the smaller endpoint (v <= u)
      val oriented = afterLarge.select(col("v").as("u"), col("u").as("v"))
      val mSmall = oriented.groupBy("u")
        .agg(least(min(col("v")), min(col("u"))).as("m"))
      val next = oriented.join(mSmall, "u")
        .select(col("v"), col("m")) // connect each neighbor to m
        .union(mSmall.select(col("u").as("v"), col("m"))) // and u itself
        .where(col("v") =!= col("m"))
        .select(least(col("v"), col("m")).as("u"),
          greatest(col("v"), col("m")).as("v"))
        .distinct().localCheckpoint(false)
      // exact fixpoint test: canonical edge sets equal, checked as an empty
      // symmetric difference via ONE full-outer join job (both sides are
      // distinct sets) — this action also materializes next's lazy
      // checkpoint, so each round costs one job instead of three
      converged = next.withColumn("l", lit(1))
        .join(cur.withColumn("r", lit(1)), Seq("u", "v"), "full_outer")
        .where(col("l").isNull || col("r").isNull)
        .isEmpty
      cur = next
      iter += 1
    }
    require(converged,
      s"componentsStar did not converge within $maxIters iterations; " +
        "raise maxIters (labels would be incorrect)")
    // at the fixpoint every component is a star centered on its minimum:
    // rep(v) = its (unique) smaller neighbor, rep(center) = itself
    val reps = cur.select(col("v").as("doc"), col("u").as("rep"))
    allDocs.select(col(docCol).cast("long").as("doc")).distinct()
      .join(reps, Seq("doc"), "left")
      .select(col("doc").as("doc_id"), coalesce(col("rep"), col("doc")).as("rep"))
  }
}
