package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One engine operator: a Spark implementation plus (when SQL-expressible) a
  * DuckDB oracle query the driver hash-compares against.
  *
  * Design note (see SURVEY.md §0): the reference checkout at /root/reference
  * was empty this round, so operator semantics derive from SURVEY.md §2's
  * blueprint (TinkerPop/Blueprints property-graph surface + the driver's
  * relational/streaming/LLM-pipeline north star), not from reference file
  * citations.
  */
final case class Op(
    key: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait OpModule { def ops: Seq[Op] }

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  * Memoized per (session, dir, table): a read pays a driver-side file
  * listing and a footer schema read on EVERY call, and the operator
  * registry calls these loaders hundreds of times per harness run — reusing
  * the (immutable) DataFrame eliminates that fixed cost suite-wide. The
  * read is [[util.parquet]]: `spark.read.parquet` would infer each schema
  * in a Spark job, ten jobs per session set-up; the footer read on the
  * driver runs none. */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    Artifacts.tables(spark, dir, name)(load(spark, dir, name))

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both TIMESTAMP(MICROS) (readable directly)
      // and TIMESTAMP(NANOS) (which Spark's reader rejects — read as raw
      // long nanos and truncate to micros, exactly what DuckDB's reader
      // does natively, so the oracle sees identical values). Adapt to the
      // file's actual physical type instead of assuming one vintage.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = util.parquet(spark, s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // NTZ micros ≡ UTC wall-clock here (session tz pinned to UTC):
          // cast to the TimestampType every downstream op and oracle
          // comparison was built against.
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else util.parquet(spark, s"$dir/$name.parquet")
}

/** Shared derived relations, materialized once per (session, dir, name) as
  * persisted temp views. Spark INLINES multi-referenced SQL CTEs, so a
  * subplan referenced k times executes k times — and expensive derived sets
  * (document shingles, normalized embeddings) are shared both within one
  * query and across operator keys. persist (lazy: nothing runs until a
  * consumer reads the view, and InMemoryRelation keeps the child plan's
  * estimates until then); the view gives SQL-dialect operators a stable name to
  * splice in. (The reference-family analog: derived indexes are stored, not
  * re-derived per query.) These caches are intentional session-scoped state,
  * like GraphFixture's; entries drop when their SparkContext stops. */
object Views {
  /** Materialize `sql` once; returns the view name to reference. */
  def materialize(s: SparkSession, dir: String, name: String, sql: => String): String =
    Artifacts.views(s, dir, name) {
      val vn = s"graft_${name}_${Staging.tag(dir)}"
      s.sql(sql).persist().createOrReplaceTempView(vn)
      vn
    }

  /** Like [[materialize]], but EAGERLY computes and CUTS LINEAGE
    * (localCheckpoint). For DEEP ITERATIVE CHAINS — betweenness BFS levels,
    * k-means Lloyd rounds — where each level references earlier levels
    * several times: the nested analyzed plans compound multiplicatively,
    * and the post-execution AQE explain render alone was measured at
    * >15 min of driver CPU on the level-5 betweenness chain. A
    * checkpointed level is a LogicalRDD leaf — constant-size plan per
    * level, like the iterative engines' own per-superstep RDD barrier.
    * The level is an eager [[util.cut]], so joins over the view see its
    * measured stored size and broadcast it when it fits the session's
    * threshold, like any other eager cut. */
  def checkpointed(s: SparkSession, dir: String, name: String, sql: => String): String =
    Artifacts.views(s, dir, name) {
      val vn = s"graft_${name}_${Staging.tag(dir)}"
      util.cut(s.sql(sql)).createOrReplaceTempView(vn)
      vn
    }
}

/** ANALYZE-equivalent table/column statistics for the fixture tables —
  * the CBO story a 100 TB deployment needs: AQE fixes plans at RUNTIME from
  * observed shuffle sizes, but join ORDER is decided at planning time, and
  * without row-count/NDV/min-max stats Catalyst's cost-based join reorder
  * never fires (it requires every relation to carry rowCount). Deployments
  * run this at ingest; here it registers each parquet fixture as an
  * external catalog table and runs
  * `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS` once per
  * (session, dir, table). PlanQualitySpec asserts the resulting stats flip
  * a 3-way join order that file-size estimates alone get wrong. */
object TableStats {
  /** Ensure `table` is analyzed; returns the catalog table name to query. */
  def analyzed(s: SparkSession, dir: String, table: String): String =
    Artifacts.tableStats(s, dir, table) {
      val tn = s"graft_stats_${table}_${Staging.tag(dir)}"
      if (!s.catalog.tableExists(tn)) {
        s.sql(s"CREATE TABLE $tn USING parquet LOCATION '$dir/$table.parquet'")
        s.sql(s"ANALYZE TABLE $tn COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      tn
    }
}

/** Process-scoped scratch space for operators that stage data on local disk
  * (format round-trips, file-source streaming). One root per JVM, fixed
  * subdirectory per use — re-runs overwrite instead of accumulating temp
  * dirs (harness processes used to leak one copy per invocation) — and a
  * shutdown hook removes the whole tree. */
object Staging {
  private lazy val root: java.nio.file.Path = {
    // Prefer RAM-backed tmpfs for harness scratch (staged tables, sink
    // round-trips, and — via the spark.local.dir the harness mains point
    // here — shuffle/spill files): the bench box has 126 GiB of /dev/shm,
    // and disk-backed /tmp made shuffle-heavy keys' timings hostage to IO
    // contention from whatever else the box is running (the round-4 driver
    // run's 2-25× per-key inflation). A cluster's analog is local NVMe.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val p =
      if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, "graft-staging")
      else java.nio.file.Files.createTempDirectory("graft-staging")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p.toFile)))
    p
  }
  /** Deletes a staged directory and everything under it. */
  def delete(path: String): Unit = deleteTree(new java.io.File(path))
  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
  /** A stable staging subdirectory (created on first use). For relations
    * staged once and then only READ (e.g. the streaming events copy). */
  def dir(name: String): String = {
    val d = root.resolve(name)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** The name tag of a fixture directory in staged-copy, temp-view and
    * stats-table names: SHA-256 hex of the path. A 32-bit `hashCode` lets
    * two directories ("/x/Aa" and "/x/BB") share a staged copy or replace
    * each other's view. */
  def tag(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fresh per-invocation subdirectory — write-then-read operators need
    * write isolation (concurrent invocations of the same op must not
    * overwrite each other mid-read; scalatest suites share this JVM).
    * Within-process accumulation is bounded by invocation count and the
    * whole tree dies with the JVM. */
  def fresh(name: String): String = dir(s"$name-${seq.incrementAndGet()}")
}

/** Cross-engine numeric determinism helpers.
  *
  * IEEE double addition is not associative, so SUM(double) depends on
  * accumulation order and can differ between Spark and DuckDB (and between
  * partitionings!). Casting each addend to DECIMAL(38,10) makes the sum exact
  * and order-independent; casting the exact result back to double is a single
  * correctly-rounded operation, identical in both engines. Verified
  * bit-identical on the fixtures (sum of 6k lineitem prices:
  * 0x1.2ea9a154f5c29p28 in both engines).
  *
  * Per-row *scalar* double ops (*, /, -, sqrt) are IEEE-deterministic and need
  * no treatment.
  */
object util {
  /** Total order over every output column (left to right, ascending).
    * lineitem's (l_orderkey, l_linenumber) is NOT unique in the fixtures, so
    * row-level outputs sort by ALL columns; equal rows are then
    * interchangeable and the ordered compare is deterministic. Matches
    * DuckDB's ORDER BY ALL (columns must be non-null: Spark sorts nulls
    * first, DuckDB last). */
  def sortAll(df: DataFrame): DataFrame = df.orderBy(df.columns.map(col).toSeq: _*)

  /** A zero-row frame of the DDL schema `ddl` (loop and fold state before
    * its first round). */
  def empty(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType.fromDDL(ddl))

  /** Batch read of one Parquet file, or of a directory one batch write
    * filled (no partition subdirectories): `spark.read.parquet(path)` with
    * the schema read from a footer on the driver.
    *
    * `spark.read.parquet` infers the schema inside a Spark job, even when
    * it reads the one footer of a single file; registering the ten fixture
    * tables cost ten jobs and most of the session set-up. Here the footer
    * Spark's non-merging inference would pick is read in this thread and
    * converted by Spark's own code
    * ([[org.apache.spark.sql.execution.datasources.parquet.GraftParquet]]),
    * so the frame, its schema (nullability, the stored Spark row schema of
    * a Spark-written file, the `nanosAsLong` reading of NANOS timestamps)
    * and its plan are what `spark.read.parquet` gives, and it fails with
    * the same error on a path with no data file.
    *
    * Used by the fixture tables and their `ts` vintage checks
    * (`Tables.load`, `Streams.readEvents`), the fixture graph's staged
    * read-back, `Bench.warmup`'s region read, ScaleBench's reads, PairCC's
    * reliable checkpoint, and the batch read-backs of sink_compact,
    * sink_upsert, sink_sorted_stats and stream_drift_maintain's stage.
    * Reads that keep Spark's inference, on purpose: a partitioned
    * directory (sink_parquet, sink_partitioned, graph_export), whose
    * partition columns come from the path listing; the `mergeSchema` read
    * (scan_merge_schema), which must see every file's footer; and the
    * streaming sink's directory (stream_graph_ingest), whose files are the
    * ones its `_spark_metadata` log names, not the ones a listing finds. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(
      org.apache.spark.sql.execution.datasources.parquet.GraftParquet.schema(spark, path))
      .parquet(path)

  /** Lineage cut: the one way this codebase checkpoints a frame (loop
    * rounds, stored artifacts, checkpointed views).
    *
    * `Dataset.localCheckpoint` alone is NOT enough: the checkpoint's
    * LogicalRDD carries `originStats` — the full pre-cut plan estimate —
    * so a self-joining round makes sizeInBytes SQUARE every iteration.
    * The estimate's BigInt digit count then doubles per round, and after a
    * few folds Catalyst's size-only stats visitor spends minutes in
    * Karatsuba/Toom-Cook multiplication (observed: 550 s of driver CPU
    * planning stream_cc_maintain's third micro-batch fold). Outside a loop
    * the estimate is merely wrong (a 50k-row join result read as 99.3 GiB).
    *
    * [[org.apache.spark.sql.GraftBridge.cut]] builds a fresh leaf instead:
    * an EAGER cut carries the bytes its checkpointed blocks store, measured
    * after the job — a constant that never compounds, so per-round planning
    * stays flat, and Catalyst/AQE pick broadcast or shuffle at the
    * session's autoBroadcastJoinThreshold with no hint. A LAZY cut has
    * stored nothing yet: with `rows`, a bound on its row count the loop
    * already measured (|V| for a per-vertex frame, a round's count), it
    * carries `rows` × Catalyst's per-row size, so the planner decides for it
    * at the same threshold; without `rows` it stays stats-less and a join
    * against it plans as a shuffle. This is the one rule for a loop frame's
    * join: never hint a cut, bound the lazy ones. */
  def cut(df: DataFrame, eager: Boolean = true, rows: => Option[Long] = None): DataFrame =
    org.apache.spark.sql.GraftBridge.cut(df, eager, rows)

  /** Spread a CPU-heavy per-row stage across the cores (r17, guide §2.5's
    * "unsplittable input → repartition immediately after the read").
    *
    * The per-row hash/tokenize work of the text/dedup family is
    * embarrassingly parallel, but it runs in whatever stage produces its
    * input rows — and that stage's task count is sized by BYTES: a
    * one-row-group parquet file scans as ONE task, and AQE coalesces any
    * small shuffle to one post-shuffle partition. Either way a
    * compute-bound stage (md5 per window, bigrams per doc) serializes on
    * one core while the rest of the machine idles (measured: dedup_cdc ran
    * 4 jobs / 4 TASKS total at local[32]).
    *
    * The partition count is scale-adaptive, no constants: at least the
    * input's existing partitioning (a 100 TB scan keeps its parallelism
    * and its per-task data bound — the shuffle it adds moves each row
    * once, paid only where per-row compute dominates per-row bytes), and
    * at least the scheduler's total core count (so the one-file bench
    * input actually fans out). The explicit count keeps AQE from
    * re-coalescing the exchange; hash-partitioning by a real key keeps
    * retries deterministic (§2.5's rand() warning).
    *
    * CONTRACT: call this only on EXCHANGE-FREE frames — a bare
    * scan/filter/project, or a [[cut]] leaf. The width probe reads
    * `toRdd.getNumPartitions`, which on such frames is pure planning (file
    * splits / the checkpointed RDD's partition array); on a frame whose
    * plan contains exchanges, AQE's toRdd would EXECUTE the upstream
    * stages, and the repartitioned result would then re-execute them
    * (measured: text_curation_funnel's survivor join ran twice). Spread a
    * shuffled intermediate by cutting it first, then spreading the leaf. */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val n = math.max(df.sparkSession.sparkContext.defaultParallelism,
      df.queryExecution.toRdd.getNumPartitions)
    df.repartition(n, key)
  }

  /** [[spread]] without the width probe, for frames whose plan already
    * contains exchanges (probing those would execute them — see spread's
    * contract): fans out to the scheduler's core count only. Use where the
    * frame is batch/candidate-bounded by construction, so core-count
    * partitions can never be narrower than the input's useful
    * parallelism at any corpus size. */
  def fan(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
}

/** Hot-partition-aware partitioned parquet writer (r13 — the "hot-partition
  * sink" scale-killer from SCALE.md's skew ingest table: a clustered
  * `repartition(partCol) → partitionBy(partCol)` write puts an entire
  * partition value in ONE writer task, so a 90%-hot value makes one task
  * write 90% of the data — the classic clustered-write straggler, 3.6×
  * under the 10× skew overlay).
  *
  * The fix is salted subfiles, sized from the data: one metadata-sized
  * aggregate counts rows per partition value (map-side combinable, output
  * = |distinct values|), values get ⌈n / maxRowsPerFile⌉ salt buckets, and
  * the write clusters on (partCol, salt) so a hot value fans across that
  * many writer tasks — each emitting ONE file in the value's directory,
  * still internally sorted on the scan key so parquet row-group min/max
  * pruning survives. Cold values keep exactly one file (the r4
  * one-file-per-dir lesson: without clustering the sink emits
  * tasks × values small files). The salt map rides a broadcast join —
  * nothing corpus-sized shuffles twice. On a real cluster AQE's
  * `rebalancePartitions` does the same job from runtime stats; this
  * explicit form is deterministic, testable, and works on any writer. */
object Sink {
  /** Write `df` partitioned by `partCol`, each file sorted on `sortKey`.
    * `maxRowsPerFile` bounds one writer task's share of a hot partition
    * value; the default keeps every bench-SF partition in one file (the
    * sink_parquet n_files=1 oracle) while a 100 TB hot value fans out. */
  def partitionedWrite(df: DataFrame, partCol: String, sortKey: String,
      out: String, maxRowsPerFile: Long = 4000000L): Unit = {
    // ONE aggregate pass over the input, collected once — the salt map is
    // |distinct partition values|-sized, metadata by the same assumption
    // partitionBy itself makes (a writer cannot want millions of
    // directories). The input is thus scanned exactly twice: counts, write.
    val counts = df.groupBy(partCol).agg(count(lit(1)).as("__n")).collect()
    val salts = counts.map(r => org.apache.spark.sql.Row(r.get(0),
      math.max(1L, math.ceil(
        r.getLong(1).toDouble / maxRowsPerFile).toLong).toInt))
    // The writer shuffle must pin an EXPLICIT partition count: AQE
    // coalesces a keys-only repartition of a small stage back into one
    // task, silently re-merging the salt buckets it exists to separate.
    val tasks = math.max(df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt,
      2 * salts.map(_.getInt(1)).sum)
    val nsalts = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(salts: _*),
      StructType(Seq(df.schema(partCol).copy(name = "__pv"),
        StructField("__nsalt", IntegerType, nullable = false))))
    // NULL-SAFE join: a null partition value is legal (partitionBy routes
    // it to the default-partition directory) — an equi-join would silently
    // DROP those rows on the salt lookup.
    df.join(broadcast(nsalts), df(partCol) <=> nsalts("__pv"))
      .withColumn("__salt",
        pmod(hash(col(sortKey)), col("__nsalt")))
      .repartition(tasks, col(partCol), col("__salt"))
      .sortWithinPartitions(partCol, sortKey)
      .drop("__pv", "__nsalt", "__salt")
      .write.mode("overwrite").partitionBy(partCol).parquet(out)
  }
}

object num {
  private val D = DecimalType(38, 10)
  /** Order-independent exact sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(D)).cast(DoubleType)
  /** Order-independent average (exact sum / count), returned as double. */
  def davg(c: Column): Column = sum(c.cast(D)).cast(DoubleType) / count(c)
  /** DuckDB SQL for dsum. The VARCHAR hop matters: DuckDB's direct
    * DECIMAL→DOUBLE cast double-rounds (int128→double, then /10^scale) and
    * can be 1 ulp off Spark's correctly-rounded cast; its VARCHAR→DOUBLE
    * parse is correctly rounded and matches Spark bit-for-bit. */
  def DSUM(e: String): String =
    s"CAST(CAST(SUM(CAST(($e) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"
  /** DuckDB SQL for davg. */
  def DAVG(e: String): String = s"(${DSUM(e)} / COUNT($e))"
  /** DuckDB SQL for a windowed dsum; `over` is the full OVER(...) clause. */
  def DSUM_OVER(e: String, over: String): String =
    s"CAST(CAST(SUM(CAST(($e) AS DECIMAL(38,10))) $over AS VARCHAR) AS DOUBLE)"
}
