package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.Maintain

/** [[graft.functions.CountMinSketch]] semantics, independent of the DuckDB
  * oracle: an in-memory plain-Scala recomputation of every cell, the
  * estimator's one-sided error contract, mergeability (sketch of a union =
  * elementwise sum of sketches — the property the streaming maintain twin
  * stands on), and a planted partial-collision instance that only passes if
  * min-of-rows actually repairs a single-row collision. */
class CountMinSpec extends AnyFunSuite {
  import graft.functions.CountMinSketch._
  private lazy val spark = TestSpark.spark

  private def refSketch(keys: Seq[Long]): Array[Long] = {
    val cells = new Array[Long](Cells)
    for (x <- keys; j <- 0 until Rows) cells(Off(j) + bucket(j, x)) += 1
    cells
  }

  private def sketchOf(keys: Seq[Long]): Array[Long] = {
    import spark.implicits._
    functions.GraftFunctions.register(spark)
    keys.toDF("k").createOrReplaceTempView("cm_in")
    spark.sql("SELECT count_min(k) AS sk FROM cm_in")
      .collect()(0).getSeq[Long](0).toArray
  }

  test("sketch cells match the plain-Scala recomputation on fixture events") {
    functions.GraftFunctions.register(spark)
    val ev = Tables(spark, TestSpark.sf, "events")
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val got = Tables(spark, TestSpark.sf, "events")
      .groupBy("event_type").agg(expr("count_min(user_id)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    val byType = ev.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(got.keySet == byType.keySet)
    for ((t, keys) <- byType)
      assert(got(t).sameElements(refSketch(keys)), s"cells diverge for $t")
  }

  test("negative keys hash to valid cells and match the SQL replay") {
    // count_min is a general SQL function: the full Long domain must land
    // inside the owning row's cell range (a signed % would throw for row 0
    // and silently corrupt the previous row's cells for rows 1-2).
    val keys = Seq(-1L, Long.MinValue, -1000000007L, -42L, 7L, 0L)
    for (x <- keys; j <- 0 until Rows) {
      val b = bucket(j, x)
      assert(b >= 0 && b < W(j), s"bucket($j, $x) = $b out of range")
    }
    // engine agreement: the UDAF's cells equal the in-memory recomputation
    assert(sketchOf(keys).sameElements(refSketch(keys)))
    // and the portable SQL bucket spelling (CustomExprOps.cmBucket's
    // ((t%m)+m)%m form) lands on the same cell in Spark SQL
    for (j <- 0 until Rows) {
      val (a, b, w) = (A(j), B(j), W(j))
      val sqlB = spark.sql(
        s"""SELECT ((((($a * (k % 1000000007) + $b) % 1000000007)
           + 1000000007) % 1000000007 % $w) + $w) % $w AS bkt
           FROM VALUES (-1L), (${Long.MinValue}L), (-1000000007L), (-42L)
           AS t(k)""").collect().map(_.getLong(0))
      val scalaB = Seq(-1L, Long.MinValue, -1000000007L, -42L)
        .map(x => bucket(j, x).toLong)
      assert(sqlB.toSeq == scalaB, s"SQL replay diverges on row $j")
    }
  }

  test("estimate is one-sided: est >= exact for every probe, every group") {
    val rows = SparkEntry.queries("agg_countmin")(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (exact, est) = (r.getLong(2), r.getLong(3))
      assert(est >= exact, s"CMS underestimated: $r")
    }
  }

  test("merge = elementwise add: sketch(A ++ B) == sketch(A) + sketch(B)") {
    val a = Seq(1L, 2L, 3L, 64L, 128L, 1L)
    val b = Seq(2L, 5L, 1000000009L, 61L * 67L * 71L)
    val whole = sketchOf(a ++ b)
    val parts = sketchOf(a).zip(sketchOf(b)).map { case (x, y) => x + y }
    assert(whole.sameElements(parts))
    assert(whole.sum == Rows.toLong * (a.size + b.size))
  }

  test("planted single-row collision is repaired by min-of-rows") {
    // 1 and 62 collide in row 0 ((131·x+7) mod 61: Δ = 61) but in neither
    // other row (Δ = 61 is not ≡ 0 mod 67 or 71) — so a row-0-only sketch
    // would report est(1) = 1 + mass(62), while min-of-rows stays exact.
    assert(bucket(0, 1L) == bucket(0, 62L))
    assert(bucket(1, 1L) != bucket(1, 62L))
    assert(bucket(2, 1L) != bucket(2, 62L))
    val sk = refSketch(Seq(1L) ++ Seq.fill(10)(62L))
    val est = (0 until Rows).map(j => sk(Off(j) + bucket(j, 1L))).min
    assert(sk(Off(0) + bucket(0, 1L)) == 11L) // row 0 alone is polluted
    assert(est == 1L)                          // the estimator is not
  }

  test("all-row collisions need Δ ≡ 0 mod lcm(61,67,71), not mod one width") {
    // With a SHARED width w every Δ ≡ 0 (mod w) collides in all rows (the
    // design bug the per-row primes fix); here Δ = 61·67·71 is the first
    // all-rows collision for small keys.
    val d = 61L * 67L * 71L
    assert((0 until Rows).forall(j => bucket(j, 5L) == bucket(j, 5L + d)))
    assert((0 until Rows).exists(j => bucket(j, 5L) != bucket(j, 5L + 61L)))
    assert((0 until Rows).exists(j => bucket(j, 5L) != bucket(j, 5L + 67L)))
    assert((0 until Rows).exists(j => bucket(j, 5L) != bucket(j, 5L + 71L)))
  }

  test("stream_countmin_maintain fold == batch report, over >1 micro-batch") {
    val before = Maintain.batches("stream_countmin_maintain")
    val streamed = SparkEntry.queries("stream_countmin_maintain")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("agg_countmin")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(Maintain.batches("stream_countmin_maintain") - before >= 2,
      "maintain loop must fold multiple micro-batches")
    assert(streamed == batch)
  }
}
