package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce
  * and Beyond", SoCC'14) — the O(log n)-round CC algorithm.
  *
  * d12's min-label propagation needs GRAPH-DIAMETER rounds: a
  * 10^6-node chain needs 10^6 hops, each a full shuffle. Star
  * contraction halves component heights every alternation, so 100 TB
  * dup graphs (whose giant boilerplate components can be deep)
  * finish in tens of rounds worst-case.
  *
  * Cost shape per alternation: ONE node-keyed exchange per star (the
  * neighborhood minimum is a window aggregate over partitionBy(u) —
  * the groupBy-then-join form paid a second exchange and re-executed
  * the join once per union branch) plus the round-closing distinct.
  * Both exchanges are plain hash-partitionings on the node id —
  * shuffle-partitionable, AQE-coalescable, no new machinery.
  *
  * Determinism: every round's emitted edge SET is a pure function of
  * the round's input edge set (min over neighborhoods, ties
  * impossible on distinct ids), so a fixed round count replays
  * bit-exactly in the DuckDB oracle ([[graft.queries.StarSql]])
  * whether or not the graph has converged — same discipline as
  * d12/g01's unrolled iterations. Intermediate large-star output may
  * carry duplicate rows (deduplication is deferred to the
  * alternation-closing distinct); only the per-round SET is part of
  * the contract.
  */
object StarCC {

  /** Large-star: for every node u, connect each STRICTLY LARGER
    * neighbor v to m(u) = min(Γ(u) ∪ u). Input: undirected edges as
    * (u, v) pairs in either orientation, no self loops. Output: same
    * representation, NOT deduplicated (see object doc).
    */
  def largeStar(edges: DataFrame): DataFrame = {
    // one-pass symmetrize (explode, not a self-union): the input is
    // read ONCE, so the whole alternation chain stays a linear
    // pipeline with no double-consumed stage anywhere — which is what
    // lets components() run all rounds as one job without per-round
    // materialization
    val sym = edges
      .select(explode(array(
        struct(col("u").as("u"), col("v").as("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("s"))
      .select(col("s.u").as("u"), col("s.v").as("v"))
    val m = least(min(col("v")).over(Window.partitionBy("u")), col("u"))
    // no v =!= m conjunct: m <= u < v by construction, so it can
    // never hold — the v > u orientation already excludes self-loops
    sym.withColumn("m", m)
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star: orient every edge max→min; for every node u,
    * connect u and each of its smaller neighbors to
    * m(u) = min(smaller neighbors). Deduplicates (closes the
    * alternation) unless `dedup = false` — duplicates never change
    * any round's emitted SET or the final min aggregate, so the LAST
    * round of [[components]] skips the exchange and lets the closing
    * groupBy-min absorb them.
    */
  def smallStar(edges: DataFrame, dedup: Boolean = true): DataFrame = {
    val o = edges.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
    val out = o
      .withColumn("m", min(col("v")).over(Window.partitionBy("u")))
      .select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u").as("u"), col("m").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(col("u") =!= col("v"))
    if (dedup) out.distinct() else out
  }

  /** `rounds` alternations of large+small star. Every stage consumes
    * its input exactly once (one-pass symmetrize, window aggregates,
    * one-pass star emission), so the whole iteration is ONE linear
    * pipeline and runs as a single job — no per-round
    * materialization, whose fixed cost dominated at small scale (the
    * checkpointed form measured 2× slower at sf0.1). Lineage depth
    * and optimizer time still grow with round count, so the DEFAULT
    * (`checkpointEvery = -1`) auto-checkpoints every 4 alternations
    * once `rounds` exceeds 4 — a short run keeps the pure linear
    * pipeline, a deep run bounds plan depth and failure-recovery
    * re-execution. Pass 0 to force no checkpointing, or an explicit
    * positive cadence to override.
    *
    * Skew caveat of the window form: the per-node neighborhood min is
    * a window aggregate over `partitionBy(u)`, which has NO map-side
    * partial aggregation — a high-degree hub's entire neighborhood
    * lands in one task's sort. Star contraction itself bounds this
    * (each alternation points hub neighbors at the component min, so
    * hub degree collapses after the first rounds), but the FIRST
    * large-star over a raw hub pays one skewed task; with AQE skew
    * handling off and a pathological hub, prefer pre-aggregating the
    * raw edge list or salting upstream.
    * Returns (node, root) for every NON-singleton node — union the
    * vertex set with root=self for isolated nodes.
    */
  def components(edges: DataFrame, rounds: Int,
      checkpointEvery: Int = -1,
      distinctInput: Boolean = true,
      dedupEvery: Int = 1): DataFrame = {
    require(dedupEvery >= 1, s"dedupEvery must be >= 1: $dedupEvery")
    val ckpt =
      if (checkpointEvery >= 0) checkpointEvery
      else if (rounds > 4) 4
      else 0
    // callers whose edge stream is distinct by construction (a
    // groupBy-keyed pair aggregate, like d12's) pass
    // distinctInput = false and skip one exchange of the FULL edge
    // set — duplicates would be harmless anyway (window minima and
    // per-round distincts absorb them), the flag is purely cost.
    var e = edges.filter(col("u") =!= col("v"))
    if (distinctInput) e = e.distinct()
    // `dedupEvery`: the round-closing distinct is semantically inert
    // (duplicate edges never change a window minimum or any round's
    // emitted SET, and the final groupBy-min absorbs them) — it
    // exists purely to bound transient row growth, which is at most
    // x4 per un-deduplicated round (x2 symmetrize, x2 star emission).
    // The default dedups every round (the scale-safe choice: growth
    // never compounds); a cadence of c saves one exchange per skipped
    // round at a worst-case transient of 4^c between dedups — c=2 is
    // the right trade for graphs whose thresholded edge set is small
    // relative to the corpus (d12's shape).
    for (r <- 1 to rounds) {
      e = smallStar(largeStar(e),
        dedup = r < rounds && r % dedupEvery == 0)
      if (ckpt > 0 && r % ckpt == 0 && r < rounds)
        e = e.localCheckpoint()
    }
    // converged edges are (child, root); a node can still appear on
    // both sides mid-convergence, so take the min root per node
    // (this aggregate also absorbs the last round's skipped dedup)
    e.select(greatest(col("u"), col("v")).as("node"),
        least(col("u"), col("v")).as("r"))
      .groupBy("node").agg(min("r").as("root"))
  }

  /** Per-label group sizes for the `coalesce(root, id)` labeling
    * derived from a [[components]] table — SELF-CONSISTENT for ANY
    * NODE-UNIQUE (node, root) table, converged or not: rows labeled
    * r = (#nodes with root = r) + (1 if r itself is NOT a node — if
    * a fixed-round star left r pointing elsewhere, r's own row
    * carries r's root, not r). Returns (group_id, nc); labels absent
    * from the result are singletons (size 1 — coalesce on the
    * consumer side). Everything is roots-bounded: at 100 TB this
    * replaces a COUNT window partitioned by group_id over the full
    * corpus. Input contract: `node` must be unique — [[components]]
    * guarantees it (its output IS a groupBy("node") aggregate), and
    * that is what lets the node side join WITHOUT its own distinct
    * exchange (the r16 form paid one full exchange of the roots
    * table purely to re-prove this invariant). */
  private[graft] def groupSizes(roots: DataFrame): DataFrame =
    roots.groupBy(col("root").as("group_id"))
      .agg(count(lit(1)).as("_m"))
      .join(roots.select(col("node").as("group_id"))
          .withColumn("_isNode", lit(1L)),
        Seq("group_id"), "left_outer")
      .select(col("group_id"),
        (col("_m") + when(col("_isNode").isNull, 1L).otherwise(0L))
          .as("nc"))
}
