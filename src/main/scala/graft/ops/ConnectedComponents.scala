package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation
  * (the Pregel formulation): every node starts labeled with its own id,
  * each round takes the min of its own and its neighbors' labels, and
  * the fixpoint labels every node with the min id of its component.
  *
  * This is the step a dedup pipeline needs AFTER candidate generation:
  * LSH banding (MinHash q17, SimHash q61) emits near-dup PAIRS, but
  * keeping one canonical document per duplicate GROUP requires the
  * transitive closure of those pairs — pair (a,b) + pair (b,c) must
  * collapse a, b, c into one cluster even though (a,c) never collided.
  *
  * Two phases ([[labelViaBuckets]], [[labelAlternating]]):
  *  1. CONTRACTION — one `mapPartitions` runs an exact [[UnionFind]] over
  *     each partition's rows and rewrites them to (node, local root),
  *     the local root being the min id of the node's local component.
  *     Exact because every bucket / edge lies inside one partition, every
  *     local component is connected in the input, and two local
  *     components that share a root share that node. Per-partition state
  *     is O(rows in the partition), which AQE's advisory partition bytes
  *     bound — never O(graph).
  *  2. GLOBAL FIXPOINT — the distributed rounds on the contracted
  *     relation, run only when it spans more than one partition. When
  *     AQE coalesces the relation to one partition (every input below
  *     the advisory partition size, which covers every benchmark-scale
  *     input) phase 1's union-find saw every bucket / edge, so its local
  *     roots ARE the component minima and the operator returns them
  *     without starting a phase-2 job. Across many partitions each
  *     local component collapses to one hop, so no distance in the
  *     contracted graph exceeds its distance in the input and phase 2
  *     needs at most the rounds the single-phase fixpoint needed.
  *
  * Scale shape of a phase-2 round: partial-aggregatable `min(label)`
  * shuffles (map-side combine shrinks them before the exchange) plus
  * equi-joins back to the label table. The driver-side convergence check
  * reads a single scalar (sum of labels, which strictly decreases while
  * any label changes — summed in DECIMAL(38,0) so it cannot wrap at any
  * node-count/id scale), the standard driver-loop pattern for iterative
  * dataflow — no row data ever reaches the driver. `localCheckpoint`
  * after every round truncates lineage so the plan stays O(1) across
  * rounds instead of re-deriving round k from rounds 1..k-1. Per-round
  * path compression (label ← label(label)) turns diameter-bound
  * convergence into O(log diameter)-ish for the price of one label-table
  * self-join.
  *
  * If `maxRounds` stops a fixpoint before convergence the operator throws
  * [[IllegalStateException]] — partial labels are otherwise
  * indistinguishable from converged ones. For adversarial long-chain
  * graphs, [[labelAlternating]] implements alternating
  * large-star/small-star (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC '14), which reaches the same fixpoint in
  * O(log² n) rounds independent of graph diameter — property-tested
  * equal to [[label]] on random and pathological chain graphs.
  */
object ConnectedComponents {

  /** Exact sequential union-find over long node ids: union-by-min (the
    * larger root always attaches under the smaller) plus path
    * compression, so every root is its component's minimum id — the
    * label contract of every operator here. State is one unboxed-key
    * map entry per node added.
    */
  private[ops] final class UnionFind {
    private val parent = mutable.LongMap.empty[Long]
    def add(x: Long): Unit = if (!parent.contains(x)) parent.update(x, x)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent.update(c, r); c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      add(a); add(b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.update(math.max(ra, rb), math.min(ra, rb))
    }
    /** (node, component min) for every node added. */
    def labels: Iterator[(Long, Long)] = parent.keysIterator.map(x => (x, find(x)))
  }

  /** True when phase 1 ran as ONE partition: its union-find then saw
    * every bucket / edge, so the local roots are the component minima
    * and phase 2 has nothing to join. Reads the width of the lazily
    * checkpointed frame's already-planned RDD, which starts no job —
    * AQE ran the keyed exchange's map stage, and so fixed the width,
    * when the checkpoint built that RDD.
    */
  private def phaseOneSawAll(contracted: DataFrame): Boolean =
    contracted.queryExecution.toRdd.getNumPartitions <= 1

  /** Path compression — label(x) ← min(label(x), label(label(x))).
    * Labels are always ids of component members, so the lookup stays
    * inside the component; chasing one extra hop per round turns
    * diameter-bound convergence into O(log diameter)-ish, for the
    * price of one small self-join of the label table.
    */
  private def compress(labels: DataFrame): DataFrame =
    labels.as("a")
      .join(labels.select(col("id").as("lid"), col("label").as("llabel")),
        col("a.label") === col("lid"), "left")
      .select(col("a.id").as("id"),
        least(col("a.label"), coalesce(col("llabel"), col("a.label"))).as("label"))

  /** Shared fixpoint driver: `step` maps the current (id, label) table
    * to the next one (monotone — labels only decrease); iterate with
    * path compression until the label sum stops changing. Throws if
    * `maxRounds` iterations end before that.
    */
  private def fixpoint(
      init: DataFrame, step: DataFrame => DataFrame, maxRounds: Int): DataFrame = {
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head.getDecimal(0)
    // r15: checkpoints are LAZY (eager = false) — the labelSum action
    // that immediately follows computes every partition anyway, so it
    // materializes the checkpoint AND the convergence scalar in ONE job
    // instead of the eager checkpoint job + a separate sum job. Same
    // blocks, same truncated lineage, half the driver actions per round.
    var labels = init.localCheckpoint(eager = false)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val next = compress(step(labels)).localCheckpoint(eager = false)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components: no fixpoint within maxRounds=$maxRounds — " +
          "labels would be partial (components may still be split)")
    labels
  }

  /** Components of a MEMBERSHIP (hypergraph) relation — the shape LSH
    * dedup actually produces: `members` rows are (id, bucket), and two
    * ids are connected iff they share a bucket. Equivalent to [[label]]
    * over the expanded pair graph, but a hot bucket of k members costs
    * k membership rows here instead of k²/2 pair rows — the pair
    * expansion is exactly what melts down on a viral near-dup cluster
    * at 100 TB, and this form never creates it.
    *
    * Phase 1 hash-partitions the relation by bucket (so every bucket lies
    * inside one partition) and unions each partition's co-members; the
    * contracted relation is (id, local root), one row per id per
    * partition it occurs in, the local root serving as the new bucket.
    * At one partition that relation already is the answer (one row per
    * id, local root = component min) and is returned as (id, label).
    * Otherwise phase 2 iterates on it: one round = id→bucket-min→id (two
    * partial-agg min shuffles), i.e. a FULL round of the pair graph over
    * the contracted relation, so rounds track the contracted pair-graph
    * diameter — at most the input's, and 0 once phase 1 has met every
    * component whole (one confirming iteration).
    */
  def labelViaBuckets(members: DataFrame, maxRounds: Int = 50): DataFrame = {
    val sp = members.sparkSession
    import sp.implicits._
    // lazy checkpoint: the first action on it materializes it — the seed
    // round's, or at one partition the caller's (one fewer standalone
    // job; see the fixpoint note).
    // The keyed repartition (no explicit N — AQE picks the width from
    // bytes) does two jobs: (a) the partition count scales with DATA, not
    // with the session's parallelism — without it every fixpoint round
    // re-reads `mem` through stages as wide as the upstream ingest
    // repartition (32 tasks of ~0 ms at bench scale); (b) it confines
    // every bucket to one partition, which phase 1's local union-find
    // needs — AQE coalescing merges whole hash partitions, so (b) holds
    // at any coalesced width.
    val mem = members.select(col("id").cast("long"), col("bucket").cast("long"))
      .repartition(col("bucket"))
      .as[(Long, Long)]
      .mapPartitions { rows =>
        val uf = new UnionFind
        val firstMember = mutable.LongMap.empty[Long]
        rows.foreach { case (id, bucket) =>
          uf.union(id, firstMember.getOrElseUpdate(bucket, id))
        }
        uf.labels
      }
      .toDF("id", "bucket")
      .localCheckpoint(eager = false)
    if (phaseOneSawAll(mem)) return mem.withColumnRenamed("bucket", "label")
    // r14, two join eliminations with the identical fixpoint:
    //  - the old per-round label-update join (labels ⋈ viaBuckets +
    //    least/coalesce) is REDUNDANT in the membership form — every id
    //    is a member of each of its own buckets, so min-over-its-buckets
    //    of bmin is already ≤ the id's current label, and the propagate
    //    output IS the next label table;
    //  - round 1's mem ⋈ labels is an identity join (labels = ids), so
    //    that round runs join-free and SEEDS the fixpoint — it pays the
    //    same compression hop the in-loop rounds do, making the seed
    //    byte-equal to the old round-1 output.
    def propagate(memLabeled: DataFrame): DataFrame = {
      val bucketMin = memLabeled
        .groupBy(col("bucket")).agg(min(col("label")).as("bmin"))
      mem.join(bucketMin, "bucket")
        .groupBy(col("id")).agg(min(col("bmin")).as("label"))
    }
    val seed = compress(propagate(mem.withColumn("label", col("id"))))
    // r15, DOUBLE-STEP rounds: each fixpoint iteration applies TWO
    // bucket-hops before the checkpoint + convergence scalar. Sound
    // because propagation is monotone decreasing (new label ≤ old —
    // every id is in its own buckets): a P²-stable labeling satisfies
    // x = P²(x) ≤ P(x) ≤ x, i.e. it is a P-fixpoint, and the unique
    // fixpoint is the component min either way. Why: the fixpoint's
    // wall cost at any scale is rounds × (stage barriers + exchanges),
    // and the barrier/checkpoint/scalar overhead is per ITERATION —
    // double-stepping halves iterations for graphs needing >1 round
    // and costs one extra (idempotent) hop in the confirming pass.
    def stepOnce(labels: DataFrame): DataFrame =
      propagate(mem.join(labels, "id"))
    fixpoint(seed, labels => stepOnce(stepOnce(labels)), maxRounds)
  }

  /** Components of a graph whose edges are CONFINED to disjoint groups:
    * every node belongs to exactly one group and every edge stays inside
    * its group — the shape IVF-bounded semantic dedup produces (q105:
    * candidate pairs exist only within a cell, each vector is assigned
    * to exactly one cell). Under that invariant no component can span
    * groups, so the global iterative fixpoint ([[label]]) is the wrong
    * algorithm: ONE shuffle on the group key and an exact local
    * union-find per group replaces O(diameter) rounds of global
    * shuffles — measured 9.1 s → sub-second on q105 at sf0.1, where 11
    * propagation rounds dominated the query.
    *
    * Scale shape at 100 TB: per-group state is O(group size) (IVF cell
    * sizes are bounded by construction — the same bound that makes the
    * candidate join sub-quadratic), groups distribute across executors,
    * and there are ZERO global barriers. [[UnionFind]]'s roots are
    * component min ids — the same label contract as [[label]].
    *
    * `members` = (grp, id) with each id in exactly one grp;
    * `edges` = (grp, src, dst) with both endpoints in grp. Returns
    * (id, label). The invariant is the CALLER's contract — edges that
    * cross groups would silently produce split components (use
    * [[label]] / [[labelAlternating]] for unconfined graphs).
    */
  def labelWithinGroups(members: DataFrame, edges: DataFrame): DataFrame = {
    val sp = members.sparkSession
    import sp.implicits._
    val rows = members.select(
        col(members.columns(0)).cast("long"),
        col(members.columns(1)).cast("long"),
        col(members.columns(1)).cast("long"))
      .union(edges.select(
        col(edges.columns(0)).cast("long"),
        col(edges.columns(1)).cast("long"),
        col(edges.columns(2)).cast("long")))
      .as[(Long, Long, Long)]
    rows.groupByKey(_._1).flatMapGroups { (_, it) =>
      val uf = new UnionFind
      it.foreach { case (_, a, b) => uf.union(a, b) }
      uf.labels
    }.toDF("id", "label")
  }

  /** Alternating large-star/small-star CC (Kiveris et al., SoCC '14):
    * rewrites the EDGE LIST itself toward a star forest instead of
    * propagating labels, converging in O(log² n) rounds regardless of
    * graph diameter — the variant to reach for on adversarial
    * long-chain graphs where min-label propagation (even with path
    * compression) pays O(log diameter) rounds that each shuffle the
    * full edge list.
    *
    * Phase 1 runs a local union-find over each partition of the distinct
    * edge list and replaces the partition's edges by (v, local root) for
    * every v ≠ local root — each partition becomes a star forest with
    * the same connectivity. At one partition that forest is final and
    * goes straight to the labeling join at the end; otherwise the star
    * rounds below run on the union of the forests, doing real work only
    * where components span partitions.
    *
    *  - large-star(u): every STRICTLY LARGER neighbor of u re-attaches
    *    to m = min(Γ(u) ∪ {u});
    *  - small-star(u): every smaller-or-equal neighbor (and u itself)
    *    re-attaches to that minimum.
    *
    * Both steps preserve connectivity and only shrink edge "potential";
    * at the fixpoint every edge is (v, component-min). Per round: two
    * groupBy-min shuffles + two equi-joins — the same partial-agg
    * building blocks as [[label]], no new machinery. Convergence is
    * detected by an order-independent (count, Σ xxhash64(src,dst))
    * signature of the canonical edge set — two scalars to the driver,
    * never rows.
    *
    * Same contract as [[label]]: returns (id, label), label = min id
    * of the component.
    */
  def labelAlternating(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    def mirrored(e: DataFrame) =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // m(u) = min(Γ(u) ∪ {u}) for each node u present in e
    def neighborhoodMin(nbrs: DataFrame) =
      nbrs.groupBy(col("src")).agg(min(col("dst")).as("_mn"))
        .select(col("src"), least(col("_mn"), col("src")).as("m"))
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = mirrored(e)
      // no distinct here: duplicates only live within the round (the
      // small-star distinct bounds each round's output) and a dedup
      // exchange per star costs more than the duplicate rows it saves
      nbrs.filter(col("dst") > col("src"))
        .join(neighborhoodMin(nbrs), "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val sm = mirrored(e).filter(col("dst") <= col("src"))
      val mins = neighborhoodMin(sm)
      sm.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
    }
    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head
      (r.getLong(0), r.getDecimal(1))
    }
    // a stable star forest labels every node with its root (a root, or
    // a node without edges, labels itself)
    def labelFrom(forest: DataFrame): DataFrame = {
      val star = forest.groupBy(col("src").as("id")).agg(min(col("dst")).as("_label"))
      nodes.select(col("id")).join(star, Seq("id"), "left")
        .select(col("id"), coalesce(col("_label"), col("id")).as("label"))
    }
    // lazy checkpoints, same rationale as fixpoint(): the signature
    // action materializes the round's edge list and the convergence
    // scalars in one job instead of two.
    val sp = edges.sparkSession
    import sp.implicits._
    var e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
      .as[(Long, Long)]
      .mapPartitions { es =>
        val uf = new UnionFind
        es.foreach { case (a, b) => uf.union(a, b) }
        uf.labels.filter { case (v, root) => v != root }
      }
      .toDF("src", "dst")
      .localCheckpoint(eager = false)
    if (phaseOneSawAll(e)) return labelFrom(e)
    var sig = signature(e)
    var round = 0
    var converged = sig._1 == 0L
    while (!converged && round < maxRounds) {
      // single star round per iteration — a composed double-round was
      // tried (r15) and REVERTED on measurement: large/small-star each
      // reference their input subtree twice, so the un-checkpointed
      // composition recomputes the inner round ~4× (9.4 s vs 4.1 s at
      // sf0.1) while the alternating trajectory only shed one
      // iteration. The membership fixpoint's double-step (above) works
      // because its propagate is a linear chain, not a self-referencing
      // star rewrite.
      val next = smallStar(largeStar(e)).localCheckpoint(eager = false)
      val s = signature(next)
      converged = s._1 == sig._1 && s._2.compareTo(sig._2) == 0
      sig = s
      e = next
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components: star forest not stable within maxRounds=$maxRounds — " +
          "labels would be partial (components may still be split)")
    labelFrom(e)
  }

  /** General pair-edge form.
    * @param nodes a frame with one column `id` (long).
    * @param edges a frame with columns `src`, `dst` (longs) — treated as
    *              undirected; duplicates and either orientation are fine
    *              (min-aggregation absorbs them, so callers need not pay
    *              a distinct shuffle).
    * @param maxRounds hard cap on propagation rounds (safety valve; the
    *                  loop exits as soon as labels stop changing, and
    *                  throws if the cap would truncate propagation).
    * @return (`id`, `label`) with label = min node id in the component.
    */
  def label(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    // Materialize the mirrored edge list ONCE: every round (and every
    // convergence check) re-reads it, and without this the upstream
    // edge-generation pipeline (e.g. a SimHash band self-join) would
    // re-execute per action — measured 5× the whole query's cost.
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      // lazy: round 1's job materializes it; later rounds read blocks
      .localCheckpoint(eager = false)
    val init = nodes.select(col("id"), col("id").as("label"))
    // double-step per iteration — same soundness argument as
    // labelViaBuckets (monotone decreasing labels: P²-stable ⇒ P-stable)
    def stepOnce(labels: DataFrame): DataFrame = {
      val nbrMin = und.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nbr_min"))
      labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
    }
    fixpoint(init, labels => stepOnce(stepOnce(labels)), maxRounds)
  }
}
