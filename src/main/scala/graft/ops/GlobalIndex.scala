package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Dense 1-based global index in a total order WITHOUT a single-partition
  * window — the classic distributed zipWithIndex: range-partition on the
  * sort key, sort within partitions, count rows per partition (one tiny
  * driver collect of `numPartitions` longs — not data), then offset each
  * partition's local index. Two narrow passes over range-sorted data; at
  * 100 TB the range exchange is the same one a global ORDER BY needs,
  * and nothing ever gathers to one task.
  *
  * The order defined by `sortCols` must be TOTAL (add a unique
  * tie-breaker column) — otherwise rows equal under the sort key get
  * arbitrary relative indexes. Given a total order, the result is
  * independent of partition boundary placement, so RangePartitioner's
  * boundary sampling cannot affect the output.
  *
  * One storage path: the sorted pass is stored nowhere. The count pass
  * and the index pass both read the reused range-exchange shuffle files
  * and each re-run the within-partition sort. Two same-boot A/Bs chose
  * that over persisting the sorted pass:
  *  - lineitem at sf0.1 (the bench's `x_dense_id_scalable`, 7-rep
  *    minima): no persist 0.64 s, MEMORY_AND_DISK 0.70 s, DISK_ONLY
  *    0.85 s;
  *  - q192 (three indexes per invocation, 7-vs-7 interleaved, per-rep
  *    minima): no persist 3.347 s, MEMORY_AND_DISK 3.934 s.
  * Storing nothing also leaves no blocks for a long-lived session to
  * release, and no suite cache pressure.
  *
  * Extracted from the reference ETL's scale path (`etl.Clean
  * .runScalable`, byte-equal to the window form per GoldenParitySpec);
  * reused by the corpus-shuffle operator (q111) and the layout audits'
  * `ScaleOps.distributedNtile` (q163, q192).
  */
object GlobalIndex {

  /** Prepend `idCol` (dense, 1-based, in `sortCols` order) to `df`. */
  def withDenseIndex(df: DataFrame, idCol: String, sortCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val sorted = df
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val sortedRdd = sorted.rdd
    val counts = sortedRdd.mapPartitionsWithIndex { (i, it) =>
      Iterator((i, it.size.toLong))
      // collect-scale: metadata — numPartitions longs, never data rows
    }.collect().sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(1L)(_ + _)
    val offsetsBc = spark.sparkContext.broadcast(offsets)
    val withId = sortedRdd.mapPartitionsWithIndex { (i, it) =>
      var id = offsetsBc.value(i)
      it.map { r => val out = Row.fromSeq(id +: r.toSeq); id += 1; out }
    }
    val schema = StructType(
      StructField(idCol, LongType, nullable = false) +: sorted.schema.fields)
    spark.createDataFrame(withId, schema)
  }
}
