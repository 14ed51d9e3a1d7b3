package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The one small-input rule: a frame planned at most `OnePartition.Bytes`
  * comes back as `coalesce(1)`, a larger one unchanged.
  */
class OnePartitionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def coalesces(df: org.apache.spark.sql.DataFrame): Seq[Repartition] =
    df.queryExecution.logical.collect { case r: Repartition => r }

  test("a parquet frame below the bound plans Coalesce 1") {
    val dir = Files.createTempDirectory("one_partition").resolve("t").toString
    spark.range(1000).toDF("id").write.parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes <= OnePartition.Bytes)
    val small = OnePartition.ifSmall(df)
    assert(coalesces(small).map(r => (r.numPartitions, r.shuffle)) == Seq((1, false)),
      small.queryExecution.logical)
    assert(small.rdd.getNumPartitions == 1)
    assert(small.collect().map(_.getLong(0)).sorted.toSeq == (0L until 1000L))
  }

  test("a frame planned above the bound comes back unchanged") {
    val wide = spark.range(4L << 20).toDF() // 32 MiB planned
    assert(wide.queryExecution.optimizedPlan.stats.sizeInBytes > OnePartition.Bytes)
    assert(OnePartition.ifSmall(wide) eq wide)
  }
}
