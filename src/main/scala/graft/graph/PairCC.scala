package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected-component labels over a sparse PAIR graph (`da`, `db` columns)
  * via hook+jump min-label rounds — the shared merge kernel of
  * dedup_cluster (LSH near-dup pairs) and incremental CC maintenance
  * (component-adjacency pairs from an edge delta). Hook adopts the minimum
  * label in the closed neighborhood; jump then follows the label pointer one
  * level (l(x) ← min(l(x), l(l(x)))), so effective reach grows geometrically
  * — O(log diameter) rounds.
  *
  * Scale knobs (read from the session conf so deployments tune without code
  * changes):
  *  - `graft.dedup.singlePartitionPairLimit` (default 100k): at or below
  *    this pair count the loop runs single-partition (one-task stages beat
  *    32-task shuffles per round on sparse pair sets); past it the SAME
  *    loop runs partitioned — the cluster path, no coalesce(1).
  *  - `graft.dedup.reliableCheckpoint` (default false): round checkpoints
  *    go through a parquet round-trip instead of localCheckpoint.
  *    localCheckpoint stores blocks in executor memory and dies with an
  *    executor — fine single-JVM, wrong on a 1000-node cluster where a lost
  *    executor would kill a half-converged loop.
  */
object PairCC {

  /** Test observability: runs that took the PARTITIONED label loop. */
  val partitionedRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** Label every id appearing in `pairs` with its component's minimum id.
    * Runs EXACTLY `rounds` hook+jump rounds — mirrors DedupOps
    * .clusterChain's algebra, so the DuckDB oracle (which replays the same
    * fixed round count) stays valid for every knob combination. */
  def labels(pairs0: DataFrame, rounds: Int): DataFrame =
    run(pairs0, rounds, converge = false)

  /** [[labels]], iterated to a FIXPOINT: rounds run until one full
    * hook+jump pass changes no label, hard-capped at `maxRounds` with a
    * LOUD failure (r10 ADVICE: a fixed round count past which one
    * biconnected component silently splits is a correctness trap — the
    * auxiliary graph's diameter grows with BFS tree depth, so callers that
    * raise maxDepth would otherwise outrun a static budget). Costs one
    * changed-row probe per round (limit-1 early-out), so use it where the
    * input diameter is unknown; the dedup callers keep the fixed-round
    * form their oracles replay. */
  def labelsConverged(pairs0: DataFrame, maxRounds: Int = 32): DataFrame =
    run(pairs0, maxRounds, converge = true)

  private def run(pairs0: DataFrame, rounds: Int,
      converge: Boolean): DataFrame = {
    val s = pairs0.sparkSession
    val reliable =
      s.conf.getOption("graft.dedup.reliableCheckpoint").exists(_.toBoolean)
    val singleLimit =
      s.conf.getOption("graft.dedup.singlePartitionPairLimit")
        .map(_.toLong).getOrElse(100000L)
    def ckpt(df: DataFrame, eager: Boolean) =
      if (reliable) {
        val p = graft.Staging.fresh("paircc-ckpt")
        df.write.mode("overwrite").parquet(p)
        graft.util.parquet(s, p)
      } else graft.util.cut(df, eager)
    // Pairs once (eager checkpoint: the iteration loop below would
    // otherwise re-plan the whole upstream pipeline per reference).
    val pairs = ckpt(pairs0, true)
    val nPairs = pairs.count() // checkpointed — metadata-cost count
    val undAll = pairs.select(col("da").as("a"), col("db").as("b"))
      .unionAll(pairs.select(col("db").as("a"), col("da").as("b")))
    val und = ckpt(
      if (nPairs <= singleLimit) undAll.coalesce(1)
      else { partitionedRuns.incrementAndGet(); undAll }, true)
    // Hook + jump rounds; one lazy checkpoint per ROUND keeps the plan
    // constant-size while paying the per-materialization floor half as
    // often as per-step checkpoints.
    var lbl = und.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    var moving = true
    var r = 0
    // Converge mode gets ONE confirming pass past the budget (r11 ADVICE):
    // if labels hit the fixpoint exactly on round `rounds`, that pass still
    // changed rows, so `moving` is true — throwing there would be a
    // spurious failure on a correct result. The extra pass either confirms
    // convergence (changes nothing, cheap) or proves the budget truly
    // insufficient.
    val maxPass = if (converge) rounds + 1 else rounds
    while (moving && r < maxPass) {
      r += 1
      val nl = und.join(lbl.select(col("id").as("b"), col("lbl").as("l")), "b")
        .groupBy(col("a").as("id")).agg(min("l").as("nl"))
      val hooked = lbl.join(nl, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
      val next = ckpt(hooked.join(
          hooked.select(col("id").as("lbl"), col("lbl").as("ll")),
          Seq("lbl"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("ll"), col("lbl"))).as("lbl")),
        // converge mode materializes each round anyway (the changed-row
        // probe would otherwise recompute it); fixed-round mode keeps the
        // half-cost lazy cut.
        eager = converge)
      if (converge) {
        // limit-1 early-out: we only need moved-or-not, not how many.
        moving = next.join(lbl.select(col("id"), col("lbl").as("prev")), "id")
          .filter(col("lbl") =!= col("prev")).limit(1).count() > 0
        // the probe stops at one moved label, so `live` reads 1
        if (moving) Superstep.cap("PairCC.labelsConverged (the pair " +
          "graph's diameter exceeds maxRounds)", r, rounds, 1)
      }
      lbl = next
    }
    lbl
  }
}
