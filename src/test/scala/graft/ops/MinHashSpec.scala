package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** [[MinHash.withBands]] — the per-row, shuffle-free signature form must
  * equal q17's gated explode→groupBy(min) pipeline value-for-value: same
  * permutation family (single source of truth), same distinct-shingle
  * set, so every sig and band is identical.
  */
class MinHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("per-row signatures equal the gated q17 pipeline on real data") {
    val cols = Seq("n_shingles") ++
      (0 to 7).map(i => s"sig$i") ++ (0 to 3).map(b => s"band$b")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect() // collect-scale: test assertion, sf0.001 corpus
        .map(r => r.getAs[Long]("doc_id") ->
          cols.map(c => r.getAs[Long](c))).toMap
    val q17 = keyed(graft.SparkEntry.queries("q17_minhash_signatures")(spark, dir))
    val rowForm = keyed(MinHash.withBands(
      graft.Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))))
    assert(rowForm.nonEmpty && rowForm == q17)
  }

  test("edge cases: 3-word docs get one shingle; shorter docs are excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),          // exactly one 3-shingle
      (2L, "alpha beta"),                // too short — excluded
      (3L, "alpha beta gamma"),          // duplicate content of 1
      (4L, "")                           // empty — excluded
    ).toDF("doc_id", "text")
    val out = MinHash.withBands(docs)
      .collect() // collect-scale: test assertion, 4 synthetic rows
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 3L))
    assert(out(1L).getAs[Long]("n_shingles") == 1L)
    // identical content → identical signatures and bands
    (0 to 7).foreach(i =>
      assert(out(1L).getAs[Long](s"sig$i") == out(3L).getAs[Long](s"sig$i")))
    (0 to 3).foreach(b =>
      assert(out(1L).getAs[Long](s"band$b") == out(3L).getAs[Long](s"band$b")))
    // a single shingle's signature is the permuted hash itself
    val h = out(1L).getAs[Long]("sig0")
    assert(h >= 0 && h < MinHash.P)
  }

  test("fused expression runs once per row by plan shape") {
    // withBands extracts 9 fields from the minhash_sigs struct; the
    // struct must be materialized in its own Project (CollapseProject
    // refuses to clone a non-cheap expression referenced 9 times), so
    // the fused call appears exactly once in the executed plan. (A
    // literal Seq frame would be constant-folded to LocalTableScan, so
    // this reads the real parquet fixture.)
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val plan = MinHash.withBands(docs).queryExecution.executedPlan.toString
    val hits = "minhash_sigs\\(".r.findAllIn(plan).length
    assert(hits == 1, s"expected one minhash_sigs call in plan, got $hits:\n$plan")
  }

  test("minhash_sigs returns null below 3 words and exact distinct counts") {
    import spark.implicits._
    val out = Seq(
      (1L, "a b"),                 // 2 words -> null struct
      (2L, "a b c a b c a b c"),   // 7 shingle positions, 3 distinct
      (3L, "x y z")
    ).toDF("doc_id", "text")
      .selectExpr("doc_id", "minhash_sigs(split(text, ' ')) AS mh")
      .collect() // collect-scale: test assertion, 3 synthetic rows
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.sql.Row]("mh")).toMap
    assert(out(1L) == null)
    assert(out(2L).getAs[Long]("n_shingles") == 3L)
    assert(out(3L).getAs[Long]("n_shingles") == 1L)
  }
}
