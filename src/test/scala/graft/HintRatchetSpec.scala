package graft

import org.scalatest.funsuite.AnyFunSuite

/** The broadcast hints left in `src/main`, each with the bound that makes
  * it safe at any scale. A loop frame carries its size instead (a measured
  * cut, or a lazy cut with a row bound: `graft.util.cut`), so a new hint
  * site fails here until it is listed with its bound. */
class HintRatchetSpec extends AnyFunSuite {

  /** (file under src/main/scala/graft, a fragment of the hinted line, its
    * bound). Each entry names exactly one site. */
  private val allowed = Seq(
    ("ops/RelationalOps.scala", "broadcast(n)", "dimension table: nation"),
    ("ops/RelationalOps.scala", "broadcast(r)", "dimension table: region"),
    ("ops/PipelineOps.scala", "BROADCAST(ev)",
      "sample-bounded: the 1-in-17 evaluation split's shingles"),
    ("ops/PipelineOps.scala", "broadcast(Tables(s, dir, \"region\"))",
      "dimension table: region"),
    ("ops/DedupOps.scala", "BROADCAST(mhc)", "candidate-bounded: the batch's LSH pairs"),
    ("ops/DedupOps.scala", "BROADCAST(c, sb)", "candidate-bounded: the batch's LSH pairs"),
    ("ops/DedupOps.scala", "BROADCAST(na, nb)",
      "candidate-bounded: the candidate docs' shingle counts"),
    ("ops/DedupOps.scala", "def candOn(b: String) = broadcast(",
      "batch-bounded: the micro-batch's band keys"),
    ("ops/DedupOps.scala", "val cand = broadcast(nbands",
      "batch-bounded: the micro-batch's band keys"),
    ("ops/DedupOps.scala", "val affected = broadcast(",
      "batch-bounded: the batch's docs and the holders of its flipped windows"),
    ("ops/DedupOps.scala", "broadcast(flippedH)",
      "batch-bounded: the hashes the batch flipped"),
    ("ops/DedupOps.scala", "val cov = broadcast(",
      "batch-bounded: the affected docs' windows"),
    ("graph/PropertyGraph.scala", "val p1 = broadcast(batch",
      "batch-bounded: the delta edges"),
    ("graph/PropertyGraph.scala", "val pairs = broadcast(p1)",
      "batch-bounded: the delta edges' labeled ends"),
    ("graph/GraphFixture.scala", "broadcast(t(\"supplier\"))", "dimension table: supplier"),
    ("streaming/StreamOps.scala", "broadcast(Tables(s, dir, \"nation\"))",
      "dimension table: nation"),
    ("core.scala", "broadcast(nsalts)",
      "dimension: one row per distinct partition value of a write"))

  /** A broadcast hint: the DataFrame function, a `hint("broadcast")` or a
    * SQL hint; `SparkContext.broadcast` (a broadcast variable) is not one. */
  private val hint = """(?<![\w.])broadcast\(|functions\.broadcast\(|(?i:\.hint\(\s*"(broadcast|broadcastjoin|mapjoin)")|BROADCAST(JOIN)?\(|MAPJOIN\(""".r

  private def sites: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator()
    import scala.jdk.CollectionConverters._
    files.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      val rel = root.relativize(f).toString
      java.nio.file.Files.readAllLines(f).asScala.map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/**"))
        .filter(l => hint.findFirstIn(l).nonEmpty).map(rel -> _)
    }
  }

  test("every broadcast hint in src/main is on the allow-list, with its bound") {
    val found = sites
    assert(found.nonEmpty)
    def matches(e: (String, String, String))(s: (String, String)) =
      s._1 == e._1 && s._2.contains(e._2)
    val unlisted = found.filterNot(s => allowed.exists(e => matches(e)(s)))
    assert(unlisted.isEmpty, "hint sites with no bound on the allow-list:\n" +
      unlisted.map { case (f, l) => s"  $f: $l" }.mkString("\n"))
    val notOne = allowed.filter(e => found.count(matches(e)) != 1)
    assert(notOne.isEmpty, s"allow-list entries that do not name exactly one site: $notOne")
    assert(allowed.forall(_._3.nonEmpty))
  }

  test("the scan finds the hint forms and skips broadcast variables") {
    for (l <- Seq("df.join(broadcast(x), \"k\")", "SELECT /*+ BROADCAST(t) */ a",
        "x.hint(\"broadcast\")", "org.apache.spark.sql.functions.broadcast(x)"))
      assert(hint.findFirstIn(l).nonEmpty, l)
    for (l <- Seq("val bc = df.sparkSession.sparkContext.broadcast(conf)",
        "sc.broadcast(m)", "// broadcast the measured side"))
      assert(hint.findFirstIn(l).isEmpty, l)
  }
}
