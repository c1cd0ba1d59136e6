package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** A kNN-graph shard in the flat layout a graph-ANN server walks:
  * position i holds node i's quantized vector, squared norm, and
  * out-neighbor ids (node ids MUST be dense 0..N-1 — asserted at
  * load). Built once at stream construction from the persisted
  * NN-Descent index, shipped to executors as ONE broadcast value.
  *
  * The optional HNSW upper layer rides in the same shard: `upperOrig`
  * maps dense upper rank l_id → original node id (the persisted
  * `level1_map`) and `upperAdj(l_id)` holds the upper graph's
  * out-neighbors as dense l_ids. Empty arrays = no upper layer (the
  * flat-NSW serving shape). */
case class GraphShard(
    vecs: Array[Array[Long]],
    n2s: Array[Long],
    adj: Array[Array[Long]],
    upperOrig: Array[Long] = Array.empty,
    upperAdj: Array[Array[Long]] = Array.empty)

/** Whole-walk beam search for the streaming graph-ANN serving leg
  * (the NSW query path): ONE evaluation seeds the beam from the LCG
  * entry permutation, walks `hops` expansion rounds through the
  * broadcast graph, and returns the final beam's top `kOut` as
  * array<struct<cos_bp bigint, n_id bigint>> ordered
  * (cos_bp desc, n_id asc).
  *
  * Bit-identical to [[graft.functions.Similarity.graphSearch]], hop
  * for hop: entries are (qId·48271 + j·1299721) mod N for j in
  * 1..beam; every candidate is rescored with the exact integer cosine
  * ([[ShardScan.cosBp]]); each round's candidate set is current-beam
  * ∪ its out-neighbors, deduplicated, self dropped, kept to `beam` by
  * (cos_bp desc, id asc). A scored id is memoized within the walk —
  * scores are pure, so the memo changes nothing but work.
  *
  * Why an expression: a streaming micro-batch pays per-stage planning
  * EVERY trigger, and the batch spelling is `hops`+2 join-and-rank
  * stages; here the whole walk is one map-side projection feeding the
  * single stateful TopKAgg — the same collapse that bought SqShardTopK
  * its 2× (see that scaladoc for the broadcast-shard honesty argument:
  * a graph-ANN serving node holds ITS SHARD of graph + vectors in RAM;
  * the per-query touch set is beam·(k+1) nodes per hop regardless of
  * corpus size, which is the entire point of graph ANN). */
case class GraphBeamTopK(qId: Expression, qVec: Expression,
    qN2: Expression, shard: Broadcast[GraphShard], beam: Int, hops: Int,
    kOut: Int, upperBeam: Int = 0, upperHops: Int = 0)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = qId
  override def second: Expression = qVec
  override def third: Expression = qN2

  // Fibonacci-hash multiplier (2³²/φ as a signed int) for the memo probe
  private val GOLD: Int = 0x9E3779B9L.toInt

  private val entryType = StructType(Seq(
    StructField("cos_bp", LongType, nullable = false),
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
    val n = s.vecs.length
    val qSqrt = math.sqrt(qN2V.asInstanceOf[Long].toDouble)
    // per-walk score memo: open-addressing int→long (dense ids < 2³¹,
    // asserted at shard load), no boxing — this eval runs once per
    // QUERY ROW every micro-batch, so the constant factor is the
    // serving leg's throughput (r12 verdict item 7: 846 rows/s with the
    // boxed HashMap/sortBy spelling, the gap to IVF's 1346 was pure
    // allocation). Capacity covers beam·(maxDeg+1)·(hops+1) candidates
    // at load ≤ ½; grows by rehash if a fat walk exceeds it.
    var mcap = 2048
    var mmask = mcap - 1
    var mkeys = new Array[Int](mcap)
    var mvals = new Array[Long](mcap)
    java.util.Arrays.fill(mkeys, -1)
    var msize = 0
    def rehash(): Unit = {
      val ok = mkeys; val ov = mvals
      mcap <<= 1; mmask = mcap - 1
      mkeys = new Array[Int](mcap); mvals = new Array[Long](mcap)
      java.util.Arrays.fill(mkeys, -1)
      var j = 0
      while (j < ok.length) {
        val k = ok(j)
        if (k >= 0) {
          var h = (k * GOLD) & mmask
          while (mkeys(h) >= 0) h = (h + 1) & mmask
          mkeys(h) = k; mvals(h) = ov(j)
        }
        j += 1
      }
    }
    def score(id: Int): Long = {
      var h = (id * GOLD) & mmask
      while (true) {
        val k = mkeys(h)
        if (k == id) return mvals(h)
        if (k < 0) {
          val v = s.vecs(id)
          if (v.length != q.length)
            throw new IllegalArgumentException(
              s"graft_graph_beam: dimension mismatch " +
                s"(${q.length} vs ${v.length})")
          val bp = ShardScan.cosBp(ShardScan.dot(q, v), qSqrt, s.n2s(id))
          mkeys(h) = id; mvals(h) = bp; msize += 1
          if (msize * 2 > mcap) rehash()
          return bp
        }
        h = (h + 1) & mmask
      }
      0L // unreachable
    }
    // (cos_bp desc, id asc) keep-beam over a deduplicated candidate set,
    // spelled as ONE primitive sort: pack (10000 − cos_bp) ≤ 20000 into
    // the high 32 bits and the id into the low 32, so ascending packed
    // order IS (cos_bp desc, id asc); duplicate ids pack identically
    // (the score memo is pure) and collapse on the adjacent-skip. Same
    // total order as the old sortBy-tuples spelling — scores are
    // bit-identical, only allocation changes.
    def keepTop(cands: Array[Int], cnt: Int, keep: Int, out: Array[Int],
        scoreOf: Int => Long, dropId: Int => Boolean): Int = {
      val packed = new Array[Long](cnt)
      var m = 0
      var j = 0
      while (j < cnt) {
        val c = cands(j)
        if (!dropId(c))
          { packed(m) = ((10000L - scoreOf(c)) << 32) | c.toLong; m += 1 }
        j += 1
      }
      java.util.Arrays.sort(packed, 0, m)
      var k = 0; var prev = Long.MinValue
      j = 0
      while (j < m && k < keep) {
        val p = packed(j)
        if (p != prev) { out(k) = (p & 0xffffffffL).toInt; k += 1; prev = p }
        j += 1
      }
      k
    }
    // reusable candidate buffer: current beam ∪ its out-neighbors
    var cand = new Array[Int](256)
    var candLen = 0
    def candAdd(v: Int): Unit = {
      if (candLen == cand.length)
        cand = java.util.Arrays.copyOf(cand, candLen << 1)
      cand(candLen) = v; candLen += 1
    }
    val beamArr = new Array[Int](beam)
    var beamLen = 0
    // entry set: the LCG permutation (flat NSW), or — when the shard
    // carries an HNSW upper layer — a short beam walk over it, seeded
    // by the LCG permutation over the DENSE upper ranks; both are
    // bit-identical to the batch spelling (Similarity.graphSearch /
    // hnswSearch). The upper walk's state is dense l_ids; scoring and
    // self-drop go through upperOrig, and the (cos_bp desc, id asc)
    // tiebreak is the same in either space because the dense re-rank
    // is monotone in original id (so packing the l_id gives the same
    // order the original-id tiebreak did).
    if (upperHops <= 0 || s.upperOrig.isEmpty) {
      candLen = 0
      var j = 0
      while (j < beam) {
        candAdd(Math.floorMod(qid * 48271L + (j + 1) * 1299721L, n.toLong).toInt)
        j += 1
      }
      beamLen = keepTop(cand, candLen, beam, beamArr,
        score, c => c.toLong == qid)
    } else {
      val nU = s.upperOrig.length
      val upArr = new Array[Int](upperBeam)
      var upLen = 0
      val upScore: Int => Long = l => score(s.upperOrig(l).toInt)
      val upDrop: Int => Boolean = l => s.upperOrig(l) == qid
      candLen = 0
      var j = 0
      while (j < upperBeam) {
        candAdd(Math.floorMod(qid * 48271L + (j + 1) * 1299721L, nU.toLong).toInt)
        j += 1
      }
      upLen = keepTop(cand, candLen, upperBeam, upArr, upScore, upDrop)
      var uh = 0
      while (uh < upperHops) {
        candLen = 0
        var a = 0
        while (a < upLen) { candAdd(upArr(a)); a += 1 }
        a = 0
        while (a < upLen) {
          val nb = s.upperAdj(upArr(a))
          var x = 0
          while (x < nb.length) { candAdd(nb(x).toInt); x += 1 }
          a += 1
        }
        upLen = keepTop(cand, candLen, upperBeam, upArr, upScore, upDrop)
        uh += 1
      }
      candLen = 0
      j = 0
      while (j < upLen) { candAdd(s.upperOrig(upArr(j)).toInt); j += 1 }
      beamLen = keepTop(cand, candLen, beam, beamArr,
        score, c => c.toLong == qid)
    }
    var h = 0
    while (h < hops) {
      candLen = 0
      var a = 0
      while (a < beamLen) { candAdd(beamArr(a)); a += 1 }
      a = 0
      while (a < beamLen) {
        val nb = s.adj(beamArr(a))
        var x = 0
        while (x < nb.length) { candAdd(nb(x).toInt); x += 1 }
        a += 1
      }
      beamLen = keepTop(cand, candLen, beam, beamArr,
        score, c => c.toLong == qid)
      h += 1
    }
    val kept = math.min(kOut, beamLen)
    val out = new Array[Any](kept)
    var i = 0
    while (i < kept) {
      out(i) = InternalRow(score(beamArr(i)), beamArr(i).toLong)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(a: Expression,
      b: Expression, c: Expression): GraphBeamTopK =
    copy(qId = a, qVec = b, qN2 = c)
}
