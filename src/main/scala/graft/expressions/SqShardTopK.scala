package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** An SQ8 (or IVF-flat — same scan, full vectors for codes) index
  * shard in the flat array layout an ANN server scans: per cell c —
  * centroid (vec, n2) and its code block (ids, n2s, and ONE contiguous
  * vector array of length |block|·dim, stride dim). Built once at
  * stream construction from the persisted index, shipped to executors
  * as ONE broadcast value. The per-cell vectors are FLAT, not
  * Array[Array[Long]]: the block scan is the serving leg's hot loop,
  * and a row-per-object layout pointer-chases the heap per candidate
  * where the flat block streams sequentially (r14; same layout change
  * every columnar scanner makes). Stride consistency is validated in
  * the CONSTRUCTOR (r15 advice: it used to live only in
  * [[SqShard.fromRows]], so a hand-built shard with ragged blockVecs
  * would silently mis-stride the hot scan, reading wrong candidates
  * instead of failing). */
case class SqShard(
    cellIds: Array[Long],
    centVecs: Array[Array[Long]],
    centN2s: Array[Long],
    blockIds: Array[Array[Long]],
    blockVecs: Array[Array[Long]],
    blockN2s: Array[Array[Long]],
    dim: Int) {
  require(dim > 0, s"vector dim must be positive, got $dim")
  require(centVecs.length == cellIds.length && centN2s.length == cellIds.length
      && blockIds.length == cellIds.length && blockVecs.length == cellIds.length
      && blockN2s.length == cellIds.length,
    s"per-cell arrays disagree on cell count: cellIds=${cellIds.length} " +
      s"centVecs=${centVecs.length} centN2s=${centN2s.length} " +
      s"blockIds=${blockIds.length} blockVecs=${blockVecs.length} " +
      s"blockN2s=${blockN2s.length}")
  centVecs.zipWithIndex.foreach { case (v, c) =>
    require(v.length == dim, s"centroid $c dim ${v.length} != $dim")
  }
  cellIds.indices.foreach { c =>
    require(blockVecs(c).length == blockIds(c).length * dim,
      s"cell $c flat block has ${blockVecs(c).length} values for " +
        s"${blockIds(c).length} ids at stride $dim")
    require(blockN2s(c).length == blockIds(c).length,
      s"cell $c has ${blockN2s(c).length} norms for ${blockIds(c).length} ids")
  }
}

object SqShard {
  /** Build from per-candidate vectors, flattening each cell's block. */
  def fromRows(cellIds: Array[Long], centVecs: Array[Array[Long]],
      centN2s: Array[Long], blockIds: Array[Array[Long]],
      blockRows: Array[Array[Array[Long]]],
      blockN2s: Array[Array[Long]]): SqShard = {
    require(centVecs.nonEmpty, "shard needs at least one cell")
    val dim = centVecs(0).length
    centVecs.foreach(v => require(v.length == dim,
      s"centroid dim ${v.length} != $dim"))
    val flat = ShardScan.flatBlocks(blockRows, dim, "block vector dim")
    SqShard(cellIds, centVecs, centN2s, blockIds, flat, blockN2s, dim)
  }
}

/** Whole-probe top-k for the streaming SQ8 serving leg: ONE evaluation
  * ranks the shard's cells against the query vector, scans the nProbe
  * best cells' code blocks in tight primitive loops, and returns the
  * merged top-k as array<struct<sq_bp bigint, n_id bigint>> ordered
  * (sq_bp desc, n_id asc) — collapsing what was a
  * project → join(blocks) → block-scan → explode → re-aggregate
  * pipeline into a single map-side projection. The serving plan drops
  * to project + explode + the one stateful TopKAgg (cross-trigger
  * folding unchanged), which matters because a streaming micro-batch
  * pays per-stage planning/scheduling EVERY trigger: the r11 anatomy
  * measured the join spelling's serving floor at ~0.7 s/batch vs the
  * ~0.35 s stateful minimum this shape approaches.
  *
  * The shard rides in a [[Broadcast]] handle — the index is shipped
  * once per executor, not per task or per batch. This is the honest
  * 100 TB shape: an ANN serving node holds ITS SHARD of the index in
  * RAM (here: the whole test index; in production: the cent_id range
  * assigned to the node), exactly like the codebook-literal trick this
  * module already uses for PQ, scaled up through a broadcast because
  * code blocks are megabytes where codebooks are kilobytes.
  *
  * Scoring is bit-identical to Similarity.cosBpFrom∘intDot and cell
  * choice to the batch probe's (cos_bp desc, cent_id asc) ranking
  * (both are [[ShardScan]]'s); candidates with n_id == qId are
  * excluded. Equality of "top-k of union of per-cell top-ks" and
  * "top-k over all candidates" holds because every global winner ranks
  * ≤ k within its own cell. */
case class SqShardTopK(qId: Expression, qVec: Expression,
    qN2: Expression, shard: Broadcast[SqShard], k: Int, nProbe: Int)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = qId
  override def second: Expression = qVec
  override def third: Expression = qN2

  private val entryType = StructType(Seq(
    StructField("sq_bp", LongType, nullable = false),
    StructField("n_id", LongType, nullable = false)))

  override def dataType: DataType = ArrayType(entryType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (qId.dataType, qVec.dataType, qN2.dataType) match {
      case (LongType, ArrayType(LongType, _), LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"requires (bigint, array<bigint>, bigint), got " +
            s"(${qId.dataType.simpleString}, ${qVec.dataType.simpleString}, " +
            s"${qN2.dataType.simpleString})")
    }

  override def nullSafeEval(qIdV: Any, qVecV: Any, qN2V: Any): Any = {
    val s = shard.value
    val qid = qIdV.asInstanceOf[Long]
    val q = qVecV.asInstanceOf[ArrayData].toLongArray()
    val dim = q.length
    val qSqrt = math.sqrt(qN2V.asInstanceOf[Long].toDouble)
    val cellOrder = ShardScan.rankCells(q, qSqrt, s.cellIds, s.centVecs,
      s.centN2s, "graft_shard_topk")
    // scan the nProbe best cells' blocks through the bounded-insertion
    // selector (probed candidate volume is |corpus|·nProbe/nCells —
    // thousands of rows where k is 5; the old collect-all-then-sortWith
    // tail allocated three candidate-sized arrays and boxed the sort
    // per QUERY ROW per micro-batch — see [[BoundedTopK]])
    val probes = math.min(nProbe, s.cellIds.length)
    val sel = new BoundedTopK(k)
    var i = 0
    while (i < probes) {
      val ci = cellOrder(i)
      val bIds = s.blockIds(ci)
      val flat = s.blockVecs(ci) // stride-dim contiguous block
      val bN2s = s.blockN2s(ci)
      var j = 0
      var off = 0
      while (j < bIds.length) {
        if (bIds(j) != qid) {
          // the dot stays inline here: this is the leg's hot loop, and
          // the ShardScan.dot call measured 5-10% slower per query row
          var dot = 0L
          var d = 0
          while (d < dim) { dot += q(d) * flat(off + d); d += 1 }
          sel.offer(ShardScan.cosBp(dot, qSqrt, bN2s(j)), bIds(j))
        }
        j += 1
        off += dim
      }
      i += 1
    }
    sel.toArrayData
  }

  override protected def withNewChildrenInternal(a: Expression,
      b: Expression, c: Expression): SqShardTopK =
    copy(qId = a, qVec = b, qN2 = c)
}
