package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation — the one loop behind
  * op208, the op298/op299 DBSCAN core graph and the op77/op92/op114
  * near-dup clusters. */
object Components {

  /** Over a SYMMETRIC edge list `(src, dst)` and a vertex frame `(v)`:
    * every vertex starts as its own label; each round takes the min of
    * its own and its neighbors' labels (a left join, so a vertex without
    * edges keeps its label), then applies `jumps` pointer jumps (label ←
    * the label's own label; labels are vertex ids, so the self-join is
    * total). `jumps = 0` needs ~diameter rounds, `jumps ≥ 1` O(log
    * diameter). The pre-round label rides along as `prev`, so the stop
    * probe scans the checkpointed round: stop when no label moved, or
    * after `maxRounds`. Returns ((v, lab), rounds run); the fixpoint
    * labels each vertex with its component's minimum id.
    *
    * 100 TB shape: per round ONE vertex-keyed equi-join + one
    * map-combinable min-aggregate, plus `jumps` vertex-keyed self-joins
    * — the hash-min form GraphX, GraphFrames and MapReduce CC bootstrap
    * from. Labels are localCheckpointed per round (the op202 rule: a
    * lazy unroll multiplies subplans ~3^rounds and stalls Catalyst).
    * Diameter-heavy graphs escalate to star contraction (op208b). */
  def minLabels(edges: DataFrame, verts: DataFrame, jumps: Int,
      maxRounds: Int): (DataFrame, Int) = {
    var labels = verts.select(col("v"), col("v").as("lab")).localCheckpoint()
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("v").as("src"), col("lab").as("nbr")), "src")
        .groupBy(col("dst")).agg(min(col("nbr")).as("nbr"))
        .select(col("dst").as("v"), col("nbr"))
      // NOT checkpointed before the jumps: each jump reads it twice, but
      // the recompute is two cheap vertex-sized joins — an extra eager
      // materialization per round costs more in job overhead than it
      // saves (measured on the near-dup subgraph)
      val merged = labels.join(nbrMin, Seq("v"), "left")
        .select(col("v"), col("lab").as("prev"),
          least(col("lab"), coalesce(col("nbr"), col("lab"))).as("lab"))
      val next = (1 to jumps).foldLeft(merged)((l, _) => jump(l))
        .localCheckpoint()
      stable = next.filter(col("lab") =!= col("prev")).isEmpty
      labels = next.select(col("v"), col("lab"))
      round += 1
    }
    (labels, round)
  }

  /** One pointer jump over (v, prev, lab): lab ← lab's own lab. */
  private def jump(l: DataFrame): DataFrame =
    l.join(l.select(col("v").as("jv"), col("lab").as("jlab")),
        col("lab") === col("jv"))
      .select(col("v"), col("prev"), col("jlab").as("lab"))
}
