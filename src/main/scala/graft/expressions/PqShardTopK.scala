package graft.expressions

import org.apache.spark.broadcast.Broadcast

import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** An IVF-PQ index shard in the flat layout an ANN server scans: per
  * cell c — IVF centroid (vec, n2) and its packed-code block (ids, and
  * ONE contiguous code array of length |block|·m, stride m — flat so
  * the hot block scan streams sequential memory instead of
  * pointer-chasing a per-candidate array, the r14 layout change shared
  * with [[SqShard]]); plus the PQ codebook (m×nCents sub-centroids,
  * slot j·nCents+c). Built once at stream construction from the
  * persisted index, shipped to executors as ONE broadcast value.
  * Stride consistency is validated in the CONSTRUCTOR (r15 advice,
  * same as [[SqShard]]: a hand-built shard with ragged blockCodes or a
  * mis-sized codebook must fail loudly, not mis-stride the scan). */
case class PqShard(
    cellIds: Array[Long],
    centVecs: Array[Array[Long]],
    centN2s: Array[Long],
    blockIds: Array[Array[Long]],
    blockCodes: Array[Array[Long]],
    cbVecs: Array[Array[Long]],
    cbN2s: Array[Long],
    m: Int, nCents: Int, subDim: Int) {
  require(m > 0 && nCents > 0 && subDim > 0,
    s"PQ geometry must be positive: m=$m nCents=$nCents subDim=$subDim")
  require(centVecs.length == cellIds.length && centN2s.length == cellIds.length
      && blockIds.length == cellIds.length
      && blockCodes.length == cellIds.length,
    s"per-cell arrays disagree on cell count: cellIds=${cellIds.length} " +
      s"centVecs=${centVecs.length} centN2s=${centN2s.length} " +
      s"blockIds=${blockIds.length} blockCodes=${blockCodes.length}")
  require(cbVecs.length == m * nCents && cbN2s.length == m * nCents,
    s"codebook has ${cbVecs.length} vecs / ${cbN2s.length} norms for " +
      s"m*nCents=${m * nCents} slots")
  cbVecs.zipWithIndex.foreach { case (v, i) =>
    require(v.length == subDim,
      s"codebook slot $i has dim ${v.length} != subDim=$subDim")
  }
  cellIds.indices.foreach { c =>
    require(blockCodes(c).length == blockIds(c).length * m,
      s"cell $c flat code block has ${blockCodes(c).length} codes for " +
        s"${blockIds(c).length} ids at stride $m")
  }
}

object PqShard {
  /** Build from per-candidate code arrays, flattening each cell block. */
  def fromRows(cellIds: Array[Long], centVecs: Array[Array[Long]],
      centN2s: Array[Long], blockIds: Array[Array[Long]],
      blockRows: Array[Array[Array[Long]]], cbVecs: Array[Array[Long]],
      cbN2s: Array[Long], m: Int, nCents: Int, subDim: Int): PqShard = {
    val flat = ShardScan.flatBlocks(blockRows, m, "packed code length")
    PqShard(cellIds, centVecs, centN2s, blockIds, flat, cbVecs, cbN2s,
      m, nCents, subDim)
  }
}

/** Whole-probe ADC top-k for the streaming IVF-PQ serving leg: ONE
  * evaluation builds the query's ADC LUT (m·nCents exact-integer
  * partial distances), ranks the shard's cells (the batch probe's exact
  * (cos_bp desc, cent_id asc) order), scans the nProbe best cells'
  * packed-code blocks at m LUT lookups per candidate, and returns the
  * merged top-k as array<struct<neg_d2 bigint, n_id bigint>> ordered
  * (neg_d2 desc, n_id asc) — collapsing the former
  * LUT-project → explode(cells) → stream-static join(codes_packed) →
  * re-aggregate pipeline into a single map-side projection, the same
  * collapse that bought [[SqShardTopK]] its 2× (a streaming
  * micro-batch pays per-stage planning AND re-executes the static
  * join side EVERY trigger).
  *
  * Bit-identical to the join spelling: the LUT slot is
  * s2_j − 2·(sv_j·cb) + cb_n2 (adcLut's exact integer arithmetic),
  * cell choice is [[ShardScan.rankCells]] (shared with [[SqShardTopK]]),
  * a candidate's d2 is Σ_j pd2[j·nCents + code_j], and n_id == qId is
  * excluded.
  * "Top-k of the per-row top-k" equals "top-k over all probed
  * candidates" because the downstream [[graft.functions.TopKAgg]]
  * fold is associative over (score desc, id asc).
  *
  * 100 TB shape: an ANN serving node holds ITS SHARD of the packed
  * codes in RAM (here the whole test index; in production the
  * cent_id range assigned to the node) — the [[SqShardTopK]] honesty
  * argument; per query the touch set is nProbe cells × block size,
  * never the corpus. */
case class PqShardTopK(qId: Expression, qVec: Expression,
    qN2: Expression, nqVec: Expression, shard: Broadcast[PqShard],
    k: Int, nProbe: Int)
    extends QuaternaryExpression with CodegenFallback {

  override def first: Expression = qId
  override def second: Expression = qVec
  override def third: Expression = qN2
  override def fourth: Expression = nqVec

  private val entryType = StructType(Seq(
    StructField("neg_d2", LongType, nullable = false),
    StructField("n_id", LongType, nullable = false)))

  override def dataType: DataType = ArrayType(entryType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (qId.dataType, qVec.dataType, qN2.dataType, nqVec.dataType) match {
      case (LongType, ArrayType(LongType, _), LongType,
          ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"requires (bigint, array<bigint>, bigint, array<bigint>), got " +
            s"(${qId.dataType.simpleString}, ${qVec.dataType.simpleString}, " +
            s"${qN2.dataType.simpleString}, ${nqVec.dataType.simpleString})")
    }

  override def nullSafeEval(qIdV: Any, qVecV: Any, qN2V: Any,
      nqVecV: Any): Any = {
    val s = shard.value
    val qid = qIdV.asInstanceOf[Long]
    val q = qVecV.asInstanceOf[ArrayData].toLongArray()
    val nq = nqVecV.asInstanceOf[ArrayData].toLongArray()
    require(nq.length == s.m * s.subDim,
      s"graft_pq_shard: normalized dim ${nq.length} != " +
        s"${s.m}·${s.subDim}")
    // ADC LUT: pd2[j·nCents + c] = s2_j − 2·(sv_j·cb) + cb_n2 —
    // adcLut's exact integer arithmetic, once per QUERY row
    val pd2 = new Array[Long](s.m * s.nCents)
    var j = 0
    while (j < s.m) {
      val base = j * s.subDim
      var s2 = 0L
      var d = 0
      while (d < s.subDim) {
        val x = nq(base + d); s2 += x * x; d += 1
      }
      var c = 0
      while (c < s.nCents) {
        val slot = j * s.nCents + c
        val cb = s.cbVecs(slot)
        var dot = 0L
        d = 0
        while (d < s.subDim) { dot += nq(base + d) * cb(d); d += 1 }
        pd2(slot) = s2 - 2L * dot + s.cbN2s(slot)
        c += 1
      }
      j += 1
    }
    val cellOrder = ShardScan.rankCells(q,
      math.sqrt(qN2V.asInstanceOf[Long].toDouble), s.cellIds, s.centVecs,
      s.centN2s, "graft_pq_shard")
    // scan the nProbe best cells' blocks: m LUT lookups per candidate,
    // k-kept through the bounded-insertion selector (no candidate-sized
    // allocation, no boxed sort — see [[BoundedTopK]])
    val probes = math.min(nProbe, s.cellIds.length)
    val sel = new BoundedTopK(k)
    var i = 0
    while (i < probes) {
      val ci = cellOrder(i)
      val bIds = s.blockIds(ci)
      val flat = s.blockCodes(ci) // stride-m contiguous code block
      var r = 0
      var off = 0
      while (r < bIds.length) {
        if (bIds(r) != qid) {
          var d2 = 0L
          j = 0
          while (j < s.m) {
            d2 += pd2(j * s.nCents + flat(off + j).toInt); j += 1
          }
          sel.offer(-d2, bIds(r))
        }
        r += 1
        off += s.m
      }
      i += 1
    }
    sel.toArrayData
  }

  override protected def withNewChildrenInternal(a: Expression,
      b: Expression, c: Expression, d: Expression): PqShardTopK =
    copy(qId = a, qVec = b, qN2 = c, nqVec = d)
}
