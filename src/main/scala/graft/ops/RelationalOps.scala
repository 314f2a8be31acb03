package graft.ops

import graft.{Op, OpModule, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Relational core: scans, projection/filter, every join flavor, global
  * sort/limit, top-k per group, set operations. All declarative
  * DataFrame/Catalyst plans: predicate pushdown, column pruning and join
  * strategy selection (broadcast vs shuffled hash vs SMJ, AQE-adjusted) are
  * delegated to the optimizer. Every query ends in a total-order sort so the
  * DuckDB oracle hash-compare is deterministic.
  *
  * Scale notes (100 TB design point):
  *  - scans push filters + pruned schemas into the parquet reader;
  *  - dimension joins (nation/region/part/supplier at realistic scales)
  *    are broadcast-hinted; fact-fact joins shuffle on their equi-keys;
  *  - the theta/range self-join is equi-anchored on the customer key so it
  *    never degenerates into a broadcast-nested-loop over the fact table;
  *  - the as-of join is the union+running-max rewrite (one shuffle on the
  *    partition key, no per-row subquery).
  */
object RelationalOps extends OpModule {

  /** lineitem/orders saved as bucketed+sorted tables on the order key —
    * the ingest-time layout that lets fact-fact joins run shuffle-free.
    * Stored per (session, dir) (graft.Artifacts.bucketed): the write
    * happens once per session (the stored-table analog of GraphFixture's
    * cached graph); table names are
    * dir-scoped so SFs don't collide in a shared JVM. 16 buckets suits the
    * bench SFs; a cluster sizes buckets to ~executor-count × small factor. */
  private def bucketedFacts(s: SparkSession, dir: String): (String, String) =
    graft.Artifacts.bucketed(s, dir) {
      val tag = graft.Staging.tag(dir)
      val lt = s"lineitem_bkt_$tag"; val ot = s"orders_bkt_$tag"
      Tables(s, dir, "lineitem").write.mode("overwrite")
        .bucketBy(16, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
      Tables(s, dir, "orders").write.mode("overwrite")
        .bucketBy(16, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      (lt, ot)
    }

  /** The sink_parquet write path (factored so ContractSpec can certify the
    * in-file sort order, which isn't oracle-able): orders clustered by the
    * partition column, key-sorted within writer tasks, written
    * status-partitioned via [[graft.Sink.partitionedWrite]] — which salts
    * a HOT partition value across ⌈n/maxRowsPerFile⌉ writer tasks instead
    * of handing 90% of the data to one straggler (SCALE.md hot-partition
    * sink; at bench SF every status stays under the threshold, so the
    * one-file-per-directory layout the oracle's n_files=1 asserts is
    * unchanged). Returns the output directory. */
  private[graft] def sinkOrders(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val out = graft.Staging.fresh("sink-parquet")
    graft.Sink.partitionedWrite(Tables(s, dir, "orders"),
      "o_orderstatus", "o_orderkey", out)
    out
  }

  def ops: Seq[Op] = Seq(

    Op("scan_parquet",
      (s, dir) => graft.util.sortAll(Tables(s, dir, "lineitem")),
      Some("SELECT * FROM lineitem ORDER BY ALL")),

    Op("scan_pruned",
      (s, dir) => graft.util.sortAll(Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-01-01'
        ORDER BY ALL""")),

    // The write side of the source/sink pair: a partitioned, clustered,
    // sorted parquet sink, then certified by reading the files back.
    // Layout choices are the ones a 100 TB curation job needs: repartition
    // BY the partition column before partitionBy (otherwise every task
    // holds every status and the sink emits tasks × statuses small files —
    // the graph_export round-4 lesson), and sortWithinPartitions on the
    // scan key so parquet row-group min/max statistics make downstream
    // key-range scans prunable. With the clustering, each status lands
    // wholly in one writer task → exactly ONE file per partition
    // directory; n_files (distinct input_file_name per status on the
    // read-back) certifies that layout, and the decimal-exact per-status
    // checksums certify round-trip fidelity. In-file sort order is
    // certified separately in ContractSpec (scan order isn't part of the
    // oracle-able result).
    Op("sink_parquet",
      (s, dir) => {
        val out = sinkOrders(s, dir)
        s.read.parquet(out)
          // nondeterministic exprs can't sit inside an aggregate — bind
          // the file name as a projected attribute first
          .withColumn("fname", input_file_name())
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            graft.num.dsum(col("o_totalprice")).as("sum_price"),
            min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
            countDistinct(col("fname")).as("n_files"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
        ${graft.num.DSUM("o_totalprice")} AS sum_price,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
        CAST(1 AS BIGINT) AS n_files
        FROM orders GROUP BY 1 ORDER BY 1""")),

    // Secondary bulk-ingest formats (§2.1's "(csv/json sources)" row —
    // the reference family reads delimited and JSON dumps, not just
    // columnar): no CSV/JSON fixtures exist, so each key STAGES one from
    // the parquet table and grades the read-back against the parquet
    // original — certifying the full serialize→parse round trip (quoting,
    // header handling, explicit schema application). Explicit schemas,
    // never inference: at 100 TB schema inference is an extra full pass
    // and a correctness hazard (a column of digit-strings silently turns
    // numeric).
    Op("source_csv",
      (s, dir) => {
        val src = Tables(s, dir, "nation")
        val out = graft.Staging.fresh("src-csv")
        src.coalesce(1).write.mode("overwrite")
          .option("header", "true").csv(out)
        s.read.schema(src.schema).option("header", "true").csv(out)
          .orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")),

    Op("source_json",
      (s, dir) => {
        val src = Tables(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice",
            "o_orderdate")
        val out = graft.Staging.fresh("src-json")
        src.write.mode("overwrite").json(out)
        s.read.schema(src.schema).json(out).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders ORDER BY o_orderkey""")),

    // Avro bulk-ingest round trip (§2.10a tail — previously recorded as
    // environment-blocked because format("avro") needs the spark-avro
    // DataSource module; the shipped avro-core/avro-mapred jars carry
    // everything the FORMAT needs, so graft.sources.AvroIO reads container
    // files block-splittably via Avro's own AvroInputFormat — the same
    // mechanism spark-avro delegates to — and writes one container file
    // per partition executor-side). Same stage-then-grade shape as
    // source_csv/source_json: serialize from parquet, read back with an
    // explicit schema, grade against the original.
    Op("source_avro",
      (s, dir) => {
        val src = Tables(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val out = graft.Staging.fresh("src-avro")
        graft.sources.AvroIO.write(src, out)
        graft.sources.AvroIO.read(s, out, src.schema).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders ORDER BY o_orderkey""")),

    // ORC bulk-ingest — the READ half of the columnar surface beyond
    // parquet (sink_orc grades write-then-summarize; THIS key grades the
    // scan path with its optimizations live): stage a 3-column lineitem
    // projection to ORC once per fixture dir (memoized like the
    // stream-maintain sources — staging is ingest, not the graded query),
    // then read back with an explicit schema and a selective predicate.
    // The ORC reader must behave like the parquet one at 100 TB: the
    // quantity predicate reaches the stripe reader as a pushed filter and
    // the scan materializes only the three projected columns —
    // PlanQualitySpec asserts both on the physical plan, the oracle
    // grades the surviving rows against the parquet original.
    Op("source_orc",
      (s, dir) => {
        val src = Tables(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity")
        val out = graft.Staging.dir(s"src-orc-${graft.Staging.tag(dir)}")
        if (!new java.io.File(s"$out/_SUCCESS").exists())
          src.write.mode("overwrite").orc(out)
        s.read.schema(src.schema).orc(out)
          .filter(col("l_quantity") >= 45)
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        WHERE l_quantity >= 45 ORDER BY l_orderkey, l_linenumber""")),

    // Raw line-delimited TEXT ingest — the shape LLM corpus drops actually
    // arrive in (one record per line, id + payload): spark.read.text hands
    // back raw lines; record parsing is the engine's job, and that parse
    // path is what this key grades. Payload text can contain ANY character
    // (tabs, newlines), so serialization base64-encodes it — the record
    // format stays line-safe by construction rather than by fixture luck —
    // and the read side splits on the first tab and decodes. Line files
    // split at newlines, so the staged corpus is as partition-parallel as
    // the parquet original; the explicit cast chain (no schema inference)
    // is the same 100-TB rule the csv/json keys follow.
    Op("source_text",
      (s, dir) => {
        val src = Tables(s, dir, "documents").select("doc_id", "text")
        val out = graft.Staging.dir(s"src-text-${graft.Staging.tag(dir)}")
        if (!new java.io.File(s"$out/_SUCCESS").exists())
          // this Spark build's base64 MIME-chunks (\r\n every 76 chars) —
          // strip the breaks or each record spans lines; unbase64's MIME
          // decoder never needed them.
          src.select(concat_ws("\t", col("doc_id"),
              regexp_replace(base64(col("text").cast("binary")),
                "[\\r\\n]", "")).as("value"))
            .write.mode("overwrite").text(out)
        val rec = split(col("value"), "\t", 2)
        s.read.text(out)
          .select(rec.getItem(0).cast("long").as("doc_id"),
            unbase64(rec.getItem(1)).cast("string").as("text"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, text FROM documents ORDER BY doc_id")),

    // Hadoop SEQUENCEFILE ingest — the classic key-value container the
    // Hadoop-lineage pipelines this engine replaces still hold archives
    // in. Staged once per fixture dir as (LongWritable, Text) via
    // saveAsSequenceFile (RDD API — the format IS an RDD-level container;
    // this is the rare per-partition-imperative case the Spark-first rule
    // carves out), read back block-splittably with sc.sequenceFile and
    // lifted straight into a DataFrame with an explicit schema. Values
    // round-trip as tab-joined fields, base64-framed like source_text so
    // ANY status string is line- and tab-safe by construction.
    Op("source_sequencefile",
      (s, dir) => {
        import s.implicits._
        val stage = graft.Staging.dir(s"src-seq-${graft.Staging.tag(dir)}")
        if (!new java.io.File(s"$stage/seq/_SUCCESS").exists()) {
          val src = Tables(s, dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .as[(Long, String, Double)]
          src.rdd.map { case (k, st, tp) =>
            (k, java.util.Base64.getEncoder.encodeToString(
              s"$st\t$tp".getBytes("UTF-8")))
          }.saveAsSequenceFile(s"$stage/seq")
        }
        s.sparkContext.sequenceFile[Long, String](s"$stage/seq")
          .toDF("o_orderkey", "payload")
          .select(col("o_orderkey"),
            split(unbase64(col("payload")).cast("string"), "\t").as("f"))
          .select(col("o_orderkey"), col("f").getItem(0).as("o_orderstatus"),
            col("f").getItem(1).cast("double").as("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders ORDER BY o_orderkey""")),

    // BINARY-FILE ingest — the shape raw media corpora arrive in (one
    // opaque file per asset): Spark's `binaryFile` source lists the
    // directory, parallelizes by file, and hands back (path, length,
    // content) without any row-format assumptions. Stage = one REAL .pgm
    // file per image asset, written executor-side through the Hadoop
    // FileSystem API with an attempt-unique temp-then-rename commit (the
    // AvroIO discipline — a retried task can never interleave a partial
    // file), memoized per fixture dir. The graded read parses the asset
    // id from the PATH (the standard keying for file-per-record corpora),
    // grades size + payload checksum; the glob keeps stray temp files
    // out of the scan by construction. The oracle rebuilds every payload
    // byte closed-form from the documents table (header string + cycled
    // content) and hashes the same bytes.
    Op("source_binaryfile",
      (s, dir) => {
        import s.implicits._
        val stage = graft.Staging.dir(s"src-binf-${graft.Staging.tag(dir)}")
        if (!new java.io.File(s"$stage/_SUCCESS").exists()) {
          val hconf = new org.apache.spark.util.SerializableConfiguration(
            s.sparkContext.hadoopConfiguration)
          Tables(s, dir, "documents")
            .where("doc_id % 3 = 0 AND text IS NOT NULL")
            .select("doc_id", "text").as[(Long, String)]
            .foreachPartition { (it: Iterator[(Long, String)]) =>
              val fs = new org.apache.hadoop.fs.Path(stage)
                .getFileSystem(hconf.value)
              val att = Option(org.apache.spark.TaskContext.get())
                .map(_.taskAttemptId()).getOrElse(0L)
              it.foreach { case (id, text) =>
                val pay = graft.multimodal.MediaCodec.encode(
                  "image", id, text.getBytes("UTF-8"))
                val tmp = new org.apache.hadoop.fs.Path(
                  s"$stage/.asset_${id}_a$att.tmp")
                val fin = new org.apache.hadoop.fs.Path(
                  s"$stage/asset_$id.pgm")
                val os = fs.create(tmp, true)
                os.write(pay)
                os.close()
                if (!fs.rename(tmp, fin)) fs.delete(tmp, false)
              }
            }
          new java.io.File(s"$stage/_SUCCESS").createNewFile()
        }
        s.read.format("binaryFile").load(s"$stage/asset_*.pgm")
          .select(
            regexp_extract(col("path"), "asset_(\\d+)\\.pgm$", 1)
              .cast("long").as("asset_id"),
            col("length").as("n_bytes"),
            md5(col("content")).as("checksum"))
          .orderBy("asset_id")
      },
      Some("""
        WITH b AS (SELECT doc_id AS asset_id,
            CAST(16 + doc_id % 32 AS BIGINT) AS w,
            CAST(16 + doc_id % 24 AS BIGINT) AS h,
            text, CAST(length(text) AS BIGINT) AS n
          FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL),
        pay AS (SELECT asset_id,
            'P5' || chr(10) || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR)
              || chr(10) || '255' || chr(10)
              || repeat(text, CAST((w * h) // n AS INTEGER))
              || substr(text, 1, CAST((w * h) % n AS INTEGER)) AS p
          FROM b)
        SELECT asset_id, CAST(octet_length(encode(p)) AS BIGINT) AS n_bytes,
          md5(p) AS checksum
        FROM pay ORDER BY asset_id""")),

    Op("project_rename",
      (s, dir) => Tables(s, dir, "part")
        .select(col("p_partkey").as("part_id"), col("p_name").as("part_name"),
          (col("p_retailprice") * lit(0.9)).as("discounted"))
        .orderBy("part_id"),
      Some("""SELECT p_partkey AS part_id, p_name AS part_name,
        p_retailprice * 0.9 AS discounted FROM part ORDER BY part_id""")),

    Op("filter_pred",
      (s, dir) => Tables(s, dir, "lineitem")
        .filter(col("l_quantity").between(10, 20) &&
          col("l_returnflag").isin("A", "R") && col("l_shipdate").isNotNull)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .transform(graft.util.sortAll),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem WHERE l_quantity BETWEEN 10 AND 20
        AND l_returnflag IN ('A','R') AND l_shipdate IS NOT NULL
        ORDER BY ALL""")),

    Op("filter_like",
      (s, dir) => Tables(s, dir, "part")
        .filter(col("p_type").like("PROMO%") || col("p_name").rlike("^blue .*"))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_type FROM part
        WHERE p_type LIKE 'PROMO%' OR regexp_matches(p_name, '^blue .*')
        ORDER BY p_partkey""")),

    Op("join_inner",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem"); val o = Tables(s, dir, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .select("l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus",
            "l_extendedprice")
          .transform(graft.util.sortAll)
      },
      Some("""SELECT l_orderkey, l_linenumber, o_custkey, o_orderstatus,
        l_extendedprice FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ORDER BY ALL""")),

    Op("join_broadcast",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val n = Tables(s, dir, "nation"); val r = Tables(s, dir, "region")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(count(lit(1)).as("n_cust"), graft.num.dsum(col("c_acctbal")).as("acctbal"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""SELECT r_name, n_name, COUNT(*) AS n_cust,
        ${graft.num.DSUM("c_acctbal")} AS acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    Op("join_left",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy("c_custkey", "c_name")
          .agg(count(col("o_orderkey")).as("n_urgent"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_urgent
        FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
        ON c_custkey = o_custkey GROUP BY c_custkey, c_name ORDER BY c_custkey""")),

    Op("join_full",
      (s, dir) => {
        val cn = Tables(s, dir, "customer").groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_cust"))
        val sn = Tables(s, dir, "supplier").groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_supp"))
        cn.join(sn, cn("c_nationkey") === sn("s_nationkey"), "full")
          .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy("nationkey")
      },
      Some("""SELECT COALESCE(cn.c_nationkey, sn.s_nationkey) AS nationkey,
        COALESCE(cn.n_cust, 0) AS n_cust, COALESCE(sn.n_supp, 0) AS n_supp
        FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) cn
        FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1) sn
        ON cn.c_nationkey = sn.s_nationkey ORDER BY nationkey""")),

    Op("join_semi",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")),

    Op("join_anti",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")),

    Op("join_cross",
      (s, dir) => {
        val r = Tables(s, dir, "region").select("r_name")
        val st = Tables(s, dir, "orders").select("o_orderstatus").distinct()
        r.crossJoin(st).orderBy("r_name", "o_orderstatus")
      },
      Some("""SELECT r_name, o_orderstatus FROM region
        CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
        ORDER BY r_name, o_orderstatus""")),

    // Co-located bucketed fact-fact join — THE 100 TB join strategy: both
    // fact tables live bucketed+sorted on the join key (ingest-time layout,
    // built once per session like the stored graph — see bucketedFacts),
    // so the join itself runs with ZERO shuffle exchanges on either side
    // (asserted in PlanQualitySpec). The measured cost here is the join +
    // aggregate over the bucketed layout, not the one-time bucketing.
    Op("join_bucketed",
      (s, dir) => {
        val (lt, ot) = bucketedFacts(s, dir)
        s.table(lt)
          .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_lines"),
            graft.num.dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_lines,
        ${graft.num.DSUM("l_extendedprice")} AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1""")),

    // Equi-anchored range join: for each order, how many orders by the same
    // customer land in the following 30 days (inclusive of itself). The
    // customer-key equi anchor keeps this a shuffled hash/SMJ join at scale;
    // the range predicate is applied post-match, never as a nested loop.
    Op("join_theta_range",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val a = o.select(col("o_orderkey").as("a_key"), col("o_custkey").as("a_cust"),
          col("o_orderdate").as("a_date"))
        val b = o.select(col("o_custkey").as("b_cust"), col("o_orderdate").as("b_date"))
        a.join(b, col("a_cust") === col("b_cust") &&
            col("b_date") >= col("a_date") &&
            col("b_date") <= col("a_date") + expr("INTERVAL 30 DAYS"))
          .groupBy(col("a_key").as("o_orderkey"))
          .agg(count(lit(1)).as("n_next30"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT a.o_orderkey, COUNT(*) AS n_next30 FROM orders a
        JOIN orders b ON a.o_custkey = b.o_custkey
          AND b.o_orderdate >= a.o_orderdate
          AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
        GROUP BY a.o_orderkey ORDER BY a.o_orderkey""")),

    // As-of join via the union + running-max rewrite: tag clicks 0 and
    // purchases 1, sort each user's merged timeline once, and carry the
    // latest click timestamp forward. One shuffle on user_id — no per-row
    // subquery, no nested loop; this is the scalable form of ASOF JOIN.
    Op("join_asof",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), lit(0).as("tag"), lit(-1L).as("event_id"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), lit(1).as("tag"), col("event_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "tag", "event_id")
          .rowsBetween(Long.MinValue, 0)
        clicks.union(purch)
          .withColumn("last_click_ts", max(when(col("tag") === 0, col("ts"))).over(w))
          .filter(col("tag") === 1)
          .select("event_id", "user_id", "ts", "last_click_ts")
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, p.ts,
        (SELECT max(c.ts) FROM events c WHERE c.event_type = 'click'
          AND c.user_id = p.user_id AND c.ts <= p.ts) AS last_click_ts
        FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id""")),

    Op("sort_limit",
      (s, dir) => Tables(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_extendedprice"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""")),

    Op("topk_per_group",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t
        WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    Op("set_union",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .union(o.filter(col("o_orderstatus") === "P").select("o_custkey"))
          .distinct()
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        UNION SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        ORDER BY o_custkey""")),

    Op("set_intersect",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .intersect(o.filter(col("o_orderstatus") === "P").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        ORDER BY o_custkey""")),

    Op("set_except",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .except(o.filter(col("o_orderstatus") === "P").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        ORDER BY o_custkey"""))
  )
}
