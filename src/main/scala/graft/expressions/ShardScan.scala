package graft.expressions

/** The scalar kernels the broadcast-shard serving expressions
  * ([[SqShardTopK]], [[PqShardTopK]], [[GraphBeamTopK]]) share: the
  * exact integer cosine, the batch probe's cell ranking and the flat
  * block layout. Each is written once so the three serving legs cannot
  * drift from each other or from the batch kernels they must match
  * bit for bit. */
private[graft] object ShardScan {

  /** Integer dot product of `q` with the first `q.length` values of
    * `v` (a centroid or a graph node). */
  def dot(q: Array[Long], v: Array[Long]): Long = {
    var acc = 0L
    var d = 0
    while (d < q.length) { acc += q(d) * v(d); d += 1 }
    acc
  }

  /** floor(10⁴·dot/(√q_n2·√n2)), 0 when either norm is 0 — bit-identical
    * to [[graft.functions.Similarity.cosBpFrom]] (same operand order,
    * Math.sqrt/floor). `qSqrt` is √q_n2, hoisted once per query row;
    * it is 0 exactly when q_n2 is. */
  def cosBp(dot: Long, qSqrt: Double, n2: Long): Long =
    if (qSqrt == 0d || n2 == 0L) 0L
    else math.floor(dot.toDouble / (qSqrt * math.sqrt(n2.toDouble)) * 10000d)
      .toLong

  /** Cell positions in the batch probe's exact (cos_bp desc,
    * cent_id asc) order of their centroids against the query. `name`
    * prefixes the dimension-mismatch error. */
  def rankCells(q: Array[Long], qSqrt: Double, cellIds: Array[Long],
      centVecs: Array[Array[Long]], centN2s: Array[Long],
      name: String): Array[Int] = {
    val bps = new Array[Long](cellIds.length)
    var c = 0
    while (c < cellIds.length) {
      val cv = centVecs(c)
      if (cv.length != q.length)
        throw new IllegalArgumentException(
          s"$name: dimension mismatch (${q.length} vs ${cv.length})")
      bps(c) = cosBp(dot(q, cv), qSqrt, centN2s(c))
      c += 1
    }
    Array.range(0, cellIds.length).sortWith { (a, b) =>
      bps(a) > bps(b) || (bps(a) == bps(b) && cellIds(a) < cellIds(b))
    }
  }

  /** Flatten each cell's per-candidate rows into ONE contiguous array of
    * stride `stride` — the layout the hot block scan streams through. */
  def flatBlocks(blockRows: Array[Array[Array[Long]]], stride: Int,
      what: String): Array[Array[Long]] =
    blockRows.map { rows =>
      val out = new Array[Long](rows.length * stride)
      var j = 0
      while (j < rows.length) {
        require(rows(j).length == stride,
          s"$what ${rows(j).length} != $stride")
        System.arraycopy(rows(j), 0, out, j * stride, stride)
        j += 1
      }
      out
    }
}
