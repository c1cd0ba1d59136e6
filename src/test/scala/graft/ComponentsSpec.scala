package graft

import org.apache.spark.sql.DataFrame

import graft.functions.Components

/** The shared min-label loop on a planted graph: a 20-link chain
  * (1..21, min at one end), a separate triangle (100..102) and one
  * vertex (200) with no edges. */
class ComponentsSpec extends SparkSpec {

  private lazy val planted: (DataFrame, DataFrame) = {
    import spark.implicits._
    val links = (1L to 20L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val edges = (links ++ links.map(_.swap)).toDF("src", "dst")
    val verts = ((1L to 21L) ++ Seq(100L, 101L, 102L, 200L)).toDF("v")
    (edges, verts)
  }

  private val want: Map[Long, Long] =
    ((1L to 21L).map(_ -> 1L) ++ (100L to 102L).map(_ -> 100L) :+
      (200L -> 200L)).toMap

  private def run(jumps: Int): (Map[Long, Long], Int) = {
    val (edges, verts) = planted
    val (labels, rounds) = Components.minLabels(edges, verts, jumps, 100)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == got.toMap.size, s"jumps=$jumps: a vertex twice")
    (got.toMap, rounds)
  }

  test("jumps 0, 1 and 2 give the same partition, labelled by the min id " +
      "(the edge-less vertex keeps its own)") {
    Seq(0, 1, 2).foreach { j =>
      val (got, _) = run(j)
      assert(got == want, s"jumps=$j")
    }
  }

  test("pointer jumps cut the round count: rounds(2) <= rounds(1) < rounds(0)") {
    val r = Seq(0, 1, 2).map(j => run(j)._2)
    // plain hash-min moves the min label one hop per round: 20 hops to
    // the chain's far end, plus the round that detects the fixpoint
    assert(r(0) >= 20, s"rounds=$r")
    assert(r(1) < r(0), s"rounds=$r")
    assert(r(2) <= r(1), s"rounds=$r")
  }
}
