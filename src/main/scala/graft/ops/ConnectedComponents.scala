package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed connected components: every node is labeled with the min
  * id of its component.
  *
  * This is the step a dedup pipeline needs AFTER candidate generation:
  * LSH banding (MinHash q17, SimHash q61) emits near-dup PAIRS, but
  * keeping one canonical document per duplicate GROUP requires the
  * transitive closure of those pairs — pair (a,b) + pair (b,c) must
  * collapse a, b, c into one cluster even though (a,c) never collided.
  *
  * One engine, two front-ends ([[labelViaBuckets]] for (id, bucket)
  * membership rows, [[labelAlternating]] for a node list plus pair
  * edges). Each front-end runs only phase 1:
  *  1. CONTRACTION — one keyed exchange, then one `mapPartitions` runs an
  *     exact [[UnionFind]] over each partition's rows and rewrites them
  *     to (id, local root), the local root being the min id of the
  *     node's local component. Exact because every bucket / edge lies
  *     inside one partition, every local component is connected in the
  *     input, and two local components that share a root share that
  *     node. Per-partition state is O(rows in the partition), which
  *     AQE's advisory partition bytes bound — never O(graph). Every node
  *     enters phase 1 (its own buckets; in the edge form an (n, n)
  *     self-loop), so its output lists every node.
  *
  * Both hand their (id, local root) rows to [[global]], the one exit:
  *  2. At ONE partition (AQE coalesced the relation: every input below
  *     the advisory partition size, which covers every benchmark-scale
  *     input) the union-find saw every bucket / edge, so its rows ARE
  *     the answer, one per node. They are returned under `coalesce(1)`,
  *     which moves no row but plans the labels as a single partition,
  *     so a consumer keyed on the label (cluster sizes) needs no
  *     exchange. Across partitions the id ≠ root rows form a star forest
  *     per partition with the input's connectivity, and alternating
  *     large-star/small-star rounds (Kiveris et al., "Connected
  *     Components in MapReduce and Beyond", SoCC '14) join the forests:
  *     O(log² n) rounds independent of graph diameter, each doing real
  *     work only where components span partitions.
  *
  * Scale shape of a star round: two groupBy-min shuffles (map-side
  * combine shrinks them) plus two equi-joins. The driver-side
  * convergence check reads an order-independent (count, Σ xxhash64)
  * signature of the edge set — two scalars, never rows — and a lazy
  * `localCheckpoint` per round keeps the plan O(1) across rounds. If
  * `maxRounds` stops the rounds before the forest is stable the operator
  * throws [[IllegalStateException]] — partial labels are otherwise
  * indistinguishable from converged ones.
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

  /** Components of a MEMBERSHIP (hypergraph) relation — the shape LSH
    * dedup actually produces: `members` rows are (id, bucket), and two
    * ids are connected iff they share a bucket. A hot bucket of k
    * members costs k membership rows here instead of the k²/2 pair rows
    * of the expanded pair graph — the pair expansion is exactly what
    * melts down on a viral near-dup cluster at 100 TB, and this form
    * never creates it.
    *
    * Phase 1 hash-partitions the relation by bucket (no explicit width:
    * AQE picks it from bytes, and coalescing merges whole hash
    * partitions, so every bucket stays inside one partition) and unions
    * each member with its bucket's first member; the output is (id,
    * local root), one row per id per partition it occurs in.
    */
  def labelViaBuckets(members: DataFrame, maxRounds: Int = 50): DataFrame = {
    val sp = members.sparkSession
    import sp.implicits._
    global(members.select(col("id").cast("long"), col("bucket").cast("long"))
      .repartition(col("bucket"))
      .as[(Long, Long)]
      .mapPartitions { rows =>
        val uf = new UnionFind
        val firstMember = mutable.LongMap.empty[Long]
        rows.foreach { case (id, bucket) =>
          uf.union(id, firstMember.getOrElseUpdate(bucket, id))
        }
        uf.labels
      }, maxRounds)
  }

  /** Components of a graph whose edges are CONFINED to disjoint groups:
    * every node belongs to exactly one group and every edge stays inside
    * its group — the shape IVF-bounded semantic dedup produces (q105:
    * candidate pairs exist only within a cell, each vector is assigned
    * to exactly one cell). Under that invariant no component can span
    * groups, so a global phase is the wrong algorithm: ONE shuffle on
    * the group key and an exact local union-find per group replaces
    * rounds of global shuffles — measured 9.1 s → sub-second on q105 at
    * sf0.1, where 11 propagation rounds dominated the query.
    *
    * Scale shape at 100 TB: per-group state is O(group size) (IVF cell
    * sizes are bounded by construction — the same bound that makes the
    * candidate join sub-quadratic), groups distribute across executors,
    * and there are ZERO global barriers. [[UnionFind]]'s roots are
    * component min ids — the same label contract as the other forms.
    *
    * `members` = (grp, id) with each id in exactly one grp;
    * `edges` = (grp, src, dst) with both endpoints in grp. Returns
    * (id, label). The invariant is the CALLER's contract — edges that
    * cross groups would silently produce split components (use
    * [[labelAlternating]] for unconfined graphs).
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

  /** Components of a pair graph: `nodes` has a column `id`, `edges`
    * columns `src`, `dst` (undirected; duplicates and either orientation
    * are fine). Returns (`id`, `label`), label = min id of the component,
    * one row per distinct node, so `nodes` may repeat ids.
    *
    * Phase 1 adds an (n, n) self-loop for every row of `nodes` to the
    * edge list, so every node enters the union-find and isolated nodes
    * need no join afterwards, and takes one distinct exchange over both.
    *
    * Precondition: every edge endpoint is a node. The output holds one
    * row per distinct vertex of `nodes` ∪ edge endpoints, so an endpoint
    * missing from `nodes` would appear in it.
    */
  def labelAlternating(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val sp = edges.sparkSession
    import sp.implicits._
    global(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .union(nodes.select(col("id").cast("long"), col("id").cast("long")))
      .distinct()
      .as[(Long, Long)]
      .mapPartitions { es =>
        val uf = new UnionFind
        es.foreach { case (a, b) => uf.union(a, b) }
        uf.labels
      }, maxRounds)
  }

  /** The one exit and the one global phase: phase 1's (id, local root)
    * rows → (id, label). One partition returns them as they are (see the
    * object doc); otherwise star rounds run on the id ≠ root rows until
    * the edge set's signature stops changing, and the distinct phase-1
    * ids take their star root as label (a root, or a node without
    * edges, labels itself).
    */
  private def global(localRoots: Dataset[(Long, Long)], maxRounds: Int): DataFrame = {
    // lazy checkpoint: the width check below plans its RDD, which runs
    // the keyed exchange's map stage (AQE fixes the width there) and no
    // other job; the first action on the frame materializes it — the
    // caller's at one partition, the seed signature otherwise
    val roots = localRoots.toDF("id", "label").localCheckpoint(eager = false)
    if (roots.queryExecution.toRdd.getNumPartitions <= 1) return roots.coalesce(1)
    def mirrored(e: DataFrame) =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // m(u) = min(Γ(u) ∪ {u}) for each node u present in e
    def neighborhoodMin(nbrs: DataFrame) =
      nbrs.groupBy(col("src")).agg(min(col("dst")).as("_mn"))
        .select(col("src"), least(col("_mn"), col("src")).as("m"))
    // large-star(u): every STRICTLY LARGER neighbor of u re-attaches to
    // m(u). No distinct here: duplicates only live within the round (the
    // small-star distinct bounds each round's output) and a dedup
    // exchange per star costs more than the duplicate rows it saves.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = mirrored(e)
      nbrs.filter(col("dst") > col("src"))
        .join(neighborhoodMin(nbrs), "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
    }
    // small-star(u): every smaller-or-equal neighbor (and u itself)
    // re-attaches to the minimum of that neighborhood
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
    var e = roots.filter(col("id") =!= col("label"))
      .select(col("id").as("src"), col("label").as("dst"))
    var sig = signature(e)
    var round = 0
    var converged = sig._1 == 0L
    while (!converged && round < maxRounds) {
      // one star round per iteration: a composed double round recomputed
      // the inner round ~4× (each star reads its input twice; 9.4 s vs
      // 4.1 s at sf0.1) and shed only one iteration. The lazy checkpoint
      // lets the signature action materialize the round's edge list and
      // the convergence scalars in one job.
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
    val star = e.groupBy(col("src").as("id")).agg(min(col("dst")).as("_label"))
    roots.select(col("id")).distinct().join(star, Seq("id"), "left")
      .select(col("id"), coalesce(col("_label"), col("id")).as("label"))
  }
}
