package graft.ops

import org.apache.spark.sql.DataFrame

/** The one rule for small inputs: a frame whose planned size is at most
  * [[Bytes]] runs as one partition.
  *
  * `df.coalesce(1)` moves no row, but it plans the frame as
  * `SinglePartition`, which satisfies every distribution but a
  * broadcast (`AllTuples` for an unpartitioned window,
  * `ClusteredDistribution` for an aggregate or a join on the same
  * frame). `EnsureRequirements` then adds no exchange, and the operator
  * runs in the task that reads the input, with no shuffle files and no
  * second job. At this size the exchange's fixed cost outweighs the
  * parallel read it keeps. Sites:
  *  - `Catalog.registerView`: the dashboard view (S6);
  *  - `Clean.run`: the dense-id `row_number` window (P5);
  *  - `TextOps.corpusClean`: the exact-duplicate fingerprint aggregate
  *    and its join back.
  */
object OnePartition {

  /** The largest planned size, in bytes, that runs as one partition.
    * Two sweeps on 4 cores, plain plan → one partition:
    *  - Dashboard view: the published news table copied 1, 4, 16 and 64
    *    times, median ms of the dashboard's aggregate statements: 3.9 MB
    *    72 → 55, 15.6 MB 76 → 68, 61 MB 82 → 83, 243 MB 111 → 187.
    *    Aggregates win below the bound and stop winning by 61 MB. A top-k
    *    statement (`ORDER BY … LIMIT`) needs no exchange either way and
    *    loses at every size, because one task reads what several read:
    *    55 → 64 at 3.9 MB, 66 → 112 at 15.6 MB.
    *  - Clean's dense-id window: a 10.6 MB news JSONL copied 1, 2 and 4
    *    times, `Clean.run` → `write`, median s over 4 fresh JVMs per plan,
    *    cold (first write) and warm (the next five): 9.7 MB planned cold
    *    2.44 → 2.17, warm 0.304 → 0.305; 19.5 MB cold 2.80 → 2.35, warm
    *    0.405 → 0.378; 39 MB cold 2.75 → 2.48, warm 0.548 → 0.571. The
    *    one-partition plan never loses cold; warm it stops winning
    *    between 19.5 and 39 MB, above the bound.
    */
  val Bytes: Long = 16L << 20

  /** `df.coalesce(1)` when the optimized plan's statistics put `df` at
    * most [[Bytes]], else `df` unchanged. Reading the statistics starts
    * no job.
    */
  def ifSmall(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= Bytes) df.coalesce(1) else df
}
