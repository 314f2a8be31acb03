package graft

import graft.graph.PropertyGraph
import org.scalatest.funsuite.AnyFunSuite

/** The stored-artifact catalog: every PropertyGraph artifact registers
  * through it under its own name, entry names are unique, the prebuild
  * policy is pinned, and a failing ingest entry does not stop the others. */
class ArtifactsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A ten-vertex graph with the fixture's columns: two triangles, a tail,
    * two customer seeds for the node2vec walks and one secret vertex. */
  private def tiny(): PropertyGraph = {
    val sp = spark; import sp.implicits._
    val vs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 100L, 200L, 300L).map { id =>
      (id, if (id % 100 == 0) "customer" else "part", s"v$id",
        if (id == 7L) "secret" else "public", id.toDouble)
    }.toDF("id", "label", "name", "vis", "val")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
      (5L, 6L), (6L, 7L), (100L, 1L), (200L, 4L), (300L, 6L), (7L, 300L))
      .map { case (a, b) => (a, b, "l", Option(1.0), "public") }
      .toDF("src", "dst", "label", "weight", "vis")
    PropertyGraph(vs, es)
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("every lazy val on PropertyGraph registers under its own name; uncache releases them all") {
    val lazies = classOf[PropertyGraph].getDeclaredMethods.map(_.getName)
      .filter(_.endsWith("$lzycompute")).map(_.stripSuffix("$lzycompute")).toSet
    assert(Set("triangleCounts", "lp3", "lu4", "toGraphX", "n2v4").subsetOf(lazies), lazies)
    val before = persisted
    val g = tiny()
    lazies.toSeq.sorted.foreach(n => classOf[PropertyGraph].getMethod(n).invoke(g))
    assert(g.artifacts.names.toSet == lazies,
      s"not registered: ${lazies -- g.artifacts.names}; " +
        s"not a lazy val: ${g.artifacts.names.toSet -- lazies}")
    g.uncache()
    assert(g.artifacts.names.isEmpty)
    val left = persisted -- before
    assert(left.isEmpty, spark.sparkContext.getPersistentRDDs.filter(r => left(r._1)))
  }

  test("entry names are unique") {
    val g = tiny()
    g.lu4.count()
    val sessionNames = Artifacts.getClass.getDeclaredFields.toSeq
      .filter(_.getType == classOf[Artifacts.Session[_]]).map { f =>
        f.setAccessible(true); f.get(Artifacts).asInstanceOf[Artifacts.Session[_]].name
      }
    assert(sessionNames.contains("graph") && sessionNames.contains("table"), sessionNames)
    val names = sessionNames ++ g.artifacts.names
    assert(names.distinct == names, names.diff(names.distinct))
    val ingest = Artifacts.ingest.map(_.name)
    assert(ingest.distinct == ingest, ingest.diff(ingest.distinct))
    g.uncache()
  }

  test("the prebuild policy: the ingest entries, in order") {
    assert(Artifacts.ingest.map(_.name) == Seq("graph_build", "pregel_routing",
      "und_oriented_edges", "triangle_counts", "und_by_a", "neighbor_lists",
      "truss3", "lp3", "cc_labeling", "scc_labeling", "pregel_first_touch",
      "ann_views", "ann_recall_views", "betweenness_levels",
      "eccentricity_levels", "text_repetition_codegen", "bucketed_layout",
      "lsh_pair_index", "delta_triangle_memo", "biconn", "stream_staging",
      "bpe_train"))
  }

  test("a failing warmup entry prints its own line and the loop goes on") {
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val entries = Seq(
      Artifacts.Ingest("first")((_, _) => ran += "first"),
      Artifacts.Ingest("broken")((_, _) => throw new IllegalStateException("no input")),
      Artifacts.Ingest("last")((_, _) => ran += "last"))
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val timings = try Bench.warmup(spark, TestSpark.sf, entries)
      finally System.setErr(stderr)
    assert(ran == Seq("first", "last"))
    assert(timings.map(_._1) == Seq("first", "last") && timings.forall(_._2 >= 0))
    assert(err.toString.linesIterator.toSeq == Seq("WARM-UP FAILED broken (timings " +
      "include ingest): java.lang.IllegalStateException: no input"), err.toString)
  }

  test("observe reports each build once with its seconds, nested builds included") {
    val g = tiny()
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    Artifacts.observe((n, s) => { assert(s >= 0); seen += n }) { g.orientedEdges.count() }
    assert(seen.toSet == Set("undirectedEdges", "undDegrees", "orientedEdges") &&
      seen.size == 3, seen)
    Artifacts.observe((n, _) => seen += n) { g.orientedEdges.count() }
    assert(seen.size == 3)
    g.uncache()
  }
}
