package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed connected components over an edge list — the final stage
  * of a near-dup pipeline: candidate pairs (d6/d7/s6) are edges, each
  * component is one duplicate cluster, and the minimum doc id in the
  * component becomes the cluster's canonical "keeper".
  *
  * Algorithm: large-star/small-star alternation (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) —
  * O(log² n) rounds on ANY graph shape, vs the O(diameter) rounds of
  * naive min-label propagation (which a long-chain graph turns into
  * thousands of shuffles):
  *
  *   - **large-star** (per node u over the symmetric neighborhood):
  *     connect every strictly-larger neighbor v > u to
  *     m = min(Γ(u) ∪ {u}) — long chains fold toward small ids from
  *     every node at once, doubling label reach per round.
  *   - **small-star** (per node u over its smaller neighbors, edges
  *     kept hi→lo): connect u and all of N = {v ∈ Γ(u), v < u} to
  *     min(N) — flattens local trees into stars.
  *
  * At the fixpoint the edge set IS the answer: one star per component,
  * every node pointing at the component minimum. Each round is two
  * join+agg passes — no driver-side data; only the O(1) convergence
  * signature (edge count + hash sum) crosses to the driver.
  *
  * Each round ends in a `localCheckpoint`: the alternation
  * references the previous edge set through several operators, and
  * without lineage truncation the logical plan grows per round and
  * Catalyst re-analysis goes super-linear — caching alone does not
  * help, the optimizer still walks the full plan. (On a cluster with a
  * checkpoint dir, reliable `checkpoint` gives the same truncation plus
  * executor-loss tolerance.)
  */
object ConnectedComponents {

  /** One large-star + small-star alternation over a canonical (hi → lo)
    * edge set; output is again canonical, self-loop-free, distinct.
    *
    * Exchange plan (r15): each star phase repartitions its edge set by
    * the star center ONCE — that single exchange feeds both the min
    * aggregation (complete, in place) and the neighborhood join
    * (co-partitioned, exchange-free; the repartition subtree is shared,
    * so ReuseExchange materializes it once). The previous shape paid a
    * partial-agged exchange for the min AND a full exchange for the
    * join — strictly more shuffled bytes, since the join exchange
    * always carries the whole neighborhood anyway. The intermediate
    * `large.distinct()` is dropped: duplicates cannot change min() and
    * the round's final distinct dedups the output set, so the iterate
    * is the same SET function of its input. 6 exchanges/round → 3. */
  private def alternate(e: DataFrame): DataFrame = {
    // large-star over the symmetric neighborhood of every node.
    // repartition WITHOUT a pinned count: AQE coalesces the tiny
    // late-round edge sets to few tasks (a pinned count would hold
    // every round at full shuffle-partition width), and both consumers
    // hang off the same exchange so coalescing stays consistent.
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("a"))
    val minsL = sym.groupBy(col("a")).agg(min(col("b")).as("mb"))
      .select(col("a"), least(col("a"), col("mb")).as("m"))
    // (v, m(u)) for v ∈ Γ(u), v > u; v > u ≥ m keeps hi→lo orientation
    val large = sym.join(minsL, "a")
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .repartition(col("a"))
    // small-star: per hi endpoint u, N = {b} are exactly the smaller
    // neighbors; connect u and N \ {min} to min(N)
    val minsS = large.groupBy(col("a")).agg(min(col("b")).as("m"))
    large.join(minsS, "a")
      .select(col("b").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
      .union(minsS.select(col("a"), col("m").as("b")))
      .distinct()
  }

  /** Label every node of the (undirected) edge list with the minimum
    * node id reachable from it.
    *
    * @param edges one row per edge; endpoints castable to long
    * @param maxIter cap on star alternations; O(log² n) are needed, so
    *                the default 50 covers graphs far beyond any real
    *                corpus (a 10k-node path converges in well under 10)
    * @return (node: long, label: long) — label = min id in the component
    * @throws IllegalStateException if the alternation has not reached
    *         its fixpoint within `maxIter` rounds (non-converged labels
    *         would silently split dedup clusters; callers like the d12
    *         dedup-cluster path fail the job rather than degrade)
    */
  def labels(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 50): DataFrame = {
    val e0 = edges.select(
      col(srcCol).cast(LongType).as("a"),
      col(dstCol).cast(LongType).as("b"))
      .filter(col("a") =!= col("b"))

    // canonical hi → lo orientation
    var e = e0.select(
      greatest(col("a"), col("b")).as("a"),
      least(col("a"), col("b")).as("b"))
      .distinct().localCheckpoint(eager = false)

    // Node set DERIVED FROM THE CHECKPOINTED canonical edges, not from
    // e0 (r15): the canonicalization keeps exactly e0's endpoint set
    // (every edge has two distinct nodes, both preserved), and reading
    // the checkpoint avoids re-running the whole upstream edge pipeline
    // — candidate generation can cost seconds — a second time when the
    // final labelling join executes.
    val initial = e
    val nodes = initial.select(col("a")).union(initial.select(col("b")))
      .distinct().select(col("a").as("node"))

    // convergence signature: (count, 64-bit hash XOR) — set-equality
    // check in one tiny agg instead of a per-round anti-join (XOR, not
    // SUM: uniform 64-bit hashes overflow an ANSI sum; the edge set is
    // distinct so XOR cancellation can't occur). Each row carries a
    // literal stage id so a union of several signatures is read back by
    // tag, never by row order.
    def sigDf(df: DataFrame, stage: Int): DataFrame = df.agg(
      count(lit(1)).as("c"),
      coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).as("h"))
      .select(lit(stage).as("stage"), col("c"), col("h"))
    def sigsOf(df: DataFrame): Map[Int, (Long, Long)] =
      df.collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    var prev = sigsOf(sigDf(e, 0))(0)

    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val n1 = alternate(e).localCheckpoint(eager = false)
      if (maxIter - i == 1) {
        // one alternation left in the budget: run exactly that one
        val s1 = sigsOf(sigDf(n1, 1))(1)
        converged = s1 == prev
        e = n1; prev = s1
        i += 1
      } else {
        // TWO alternations per driver action (r16): both LAZY
        // checkpoints materialize inside the one job that computes both
        // signatures — a union of two tagged 1-row aggs — so the
        // consecutive-signature convergence check is exactly the old
        // per-round one while the action/job count halves.
        // alternate() is idempotent at the fixpoint (a star set maps to
        // itself), so the at-most-one extra alternation a 2-stride can
        // run is a no-op over the tiny converged edge set.
        val n2 = alternate(n1).localCheckpoint(eager = false)
        val sigs = sigsOf(sigDf(n1, 1).unionAll(sigDf(n2, 2)))
        val (s1, s2) = (sigs(1), sigs(2))
        if (s1 == prev) { e = n1; converged = true }
        else if (s2 == s1) { e = n2; converged = true }
        else { e = n2; prev = s2 }
        i += 2
      }
    }
    if (!converged) {
      throw new IllegalStateException(
        s"ConnectedComponents did not converge within $maxIter star rounds — " +
          "pathological input (the alternation needs O(log² n) rounds); " +
          "raise maxIter")
    }
    // fixpoint edge set = stars (node → component min); roots label themselves
    nodes.join(e, nodes("node") === e("a"), "left")
      .select(col("node"), coalesce(col("b"), col("node")).as("label"))
  }
}
