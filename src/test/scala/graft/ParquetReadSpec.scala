package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.graph.GraphFixture
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** util.parquet: the schema Spark's inference gives, read from a footer on
  * the driver, so registering the fixture tables runs no Spark job. */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf

  private def path(name: String) = s"$sf/$name.parquet"

  test("registering the ten fixture tables on a fresh session runs no Spark job") {
    val fresh = spark.newSession()
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftBridge.drain(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      Tables.names.foreach(Tables(fresh, sf, _))
      GraftBridge.drain(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0)
  }

  test("each fixture table's schema is the one spark.read.parquet infers, events' ts included") {
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (n <- Tables.names) {
      val inferred = s.read.parquet(path(n)).schema
      assert(util.parquet(s, path(n)).schema == inferred, n)
      if (n != "events") assert(Tables(s, sf, n).schema == inferred, n)
    }
    assert(Tables(s, sf, "events").schema("ts").dataType == TimestampType)
  }

  test("a directory Spark wrote reads back with Spark's inferred schema, nullability included") {
    GraphFixture(spark, sf)
    val stage = Artifacts.graph(spark, sf)(sys.error("the graph was just built"))._2
    for (name <- Seq("vertices", "edges")) {
      val dir = s"$stage/$name"
      assert(util.parquet(spark, dir).schema == spark.read.parquet(dir).schema, name)
    }
    // a column written non-nullable reads back nullable, as Spark reads it
    val root = Files.createTempDirectory("parquet-read")
    val dir = root.resolve("t").toString
    spark.range(0, 10, 1, 3).select(col("id"), (col("id") * 2).as("twice"))
      .write.parquet(dir)
    val inferred = spark.read.parquet(dir).schema
    assert(util.parquet(spark, dir).schema == inferred)
    assert(inferred.forall(_.nullable))
    assert(util.parquet(spark, dir).count() == 10)
    Staging.delete(root.toString)
  }

  test("a directory with no data file fails as spark.read.parquet fails") {
    val dir = Files.createTempDirectory("parquet-empty")
    Files.createFile(dir.resolve("_SUCCESS"))
    val theirs = intercept[Exception](spark.read.parquet(dir.toString))
    val ours = intercept[Exception](util.parquet(spark, dir.toString))
    assert(ours.getClass == theirs.getClass)
    assert(ours.getMessage == theirs.getMessage)
    Staging.delete(dir.toString)
  }
}
