package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** KMV (k-minimum-values, "bottom-k") distinct sketch — the mergeable
  * distinct-count summary that, unlike HLL (q31), supports SET ALGEBRA:
  * two groups' sketches combine into union/intersection/Jaccard
  * ESTIMATES without ever co-shuffling the raw keys (Beyer et al.,
  * SIGMOD'07).
  *
  * The aggregate keeps the k smallest DISTINCT values of a 60-bit
  * md5-derived hash column ([[graft.functions.Portable.h60]]). State is
  * a bounded tree of ≤ k longs:
  *  - `update` inserts only when the value beats the current kth
  *    smallest — O(log k), no allocation on the (overwhelmingly common
  *    at scale) reject path;
  *  - `merge` folds another bounded tree in — partial aggregation
  *    works, so map-side combine reduces every partition to ≤ k longs
  *    and the exchange carries O(groups·k), independent of cardinality
  *    (the same scale contract as q31's HLL, with ~8 bytes/slot instead
  *    of HLL's 6-bit registers — the price of set algebra);
  *  - `eval` emits the ascending sorted array (exact distinct set when
  *    the group has < k distinct hashes — estimators must special-case
  *    this, see q45).
  *
  * Everything downstream of the sketch is engine-portable arithmetic on
  * the hash values themselves, so the DuckDB oracle reproduces sketches
  * AND estimates bit-exactly (`list_sort(list(DISTINCT h))[:k]`) — a
  * stronger gate than q31's error envelope, possible precisely because
  * KMV keeps hashes, not register summaries.
  */
case class KmvBottomK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType if k > 0 => TypeCheckResult.TypeCheckSuccess
    case LongType => TypeCheckResult.TypeCheckFailure(
      s"graft_kmv k must be positive, got $k")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_kmv expects a bigint hash column, got ${t.sql}")
  }

  // k is a plan-time constant (validated as a literal by the builder),
  // not an expression child — the tree holds only the hash column.
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kmv"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def add(b: java.util.TreeSet[java.lang.Long], h: Long): Unit =
    if (b.size < k) { b.add(h); () }
    else if (h < b.last()) { if (b.add(h)) { b.pollLast(); () } }

  override def update(b: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) add(b, v.asInstanceOf[Long])
    b
  }

  override def merge(b: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    other.forEach(h => add(b, h))
    b
  }

  override def eval(b: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](b.size)
    var i = 0
    val it = b.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(b: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 8 * b.size)
    buf.putInt(b.size)
    b.forEach(h => { buf.putLong(h); () })
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val b = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { b.add(buf.getLong); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvBottomK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvBottomK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvBottomK =
    copy(child = newChildren.head)
}

/** Grouped top-k as a bounded MERGEABLE summary — the scale-correct
  * replacement for `row_number() OVER (PARTITION BY g ORDER BY ord) <= k`
  * when k is small and groups are few. The window form shuffles EVERY
  * row to its group's partition and sorts there (exchange carries the
  * corpus); this aggregate keeps a ≤ k bounded heap per group, so with
  * partial aggregation each map task reduces its partitions to ≤ k
  * entries per group BEFORE the exchange — the shuffle carries
  * O(map_tasks · groups · k) regardless of corpus size, the same
  * contract as [[KmvBottomK]].
  *
  * Ordering is (ord DESC, id ASC) — the id tiebreak makes the result
  * deterministic and therefore oracle-hashable. State is a TreeSet of
  * ≤ k (ord, id) pairs: `update` rejects non-qualifying rows in O(log k)
  * with no allocation (the overwhelmingly common path at scale), `merge`
  * folds another bounded set in, `eval` emits the rank-ordered
  * array<struct<ord double, id bigint>>.
  */
case class TopKPairs(
    ord: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Double, Long)]] {

  override def checkInputDataTypes(): TypeCheckResult = (ord.dataType, id.dataType) match {
    case (DoubleType, LongType) if k > 0 => TypeCheckResult.TypeCheckSuccess
    case (DoubleType, LongType) => TypeCheckResult.TypeCheckFailure(
      s"graft_topk k must be positive, got $k")
    case (o, i) => TypeCheckResult.TypeCheckFailure(
      s"graft_topk expects (double, bigint), got (${o.sql}, ${i.sql})")
  }

  override def children: Seq[Expression] = Seq(ord, id)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ord", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"

  // (ord DESC, id ASC): the set's FIRST k elements under this order are
  // exactly ranks 1..k, so `last()` is the current cutoff.
  private val cmp: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  override def createAggregationBuffer(): java.util.TreeSet[(Double, Long)] =
    new java.util.TreeSet[(Double, Long)](cmp)

  private def add(b: java.util.TreeSet[(Double, Long)], e: (Double, Long)): Unit =
    if (b.size < k) { b.add(e); () }
    else if (cmp.compare(e, b.last()) < 0) { if (b.add(e)) { b.pollLast(); () } }

  override def update(b: java.util.TreeSet[(Double, Long)],
      input: InternalRow): java.util.TreeSet[(Double, Long)] = {
    val o = ord.eval(input)
    val i = id.eval(input)
    if (o != null && i != null) add(b, (o.asInstanceOf[Double], i.asInstanceOf[Long]))
    b
  }

  override def merge(b: java.util.TreeSet[(Double, Long)],
      other: java.util.TreeSet[(Double, Long)]): java.util.TreeSet[(Double, Long)] = {
    other.forEach(e => add(b, e))
    b
  }

  override def eval(b: java.util.TreeSet[(Double, Long)]): Any = {
    val arr = new Array[Any](b.size)
    var i = 0
    val it = b.iterator()
    while (it.hasNext) {
      val e = it.next()
      arr(i) = InternalRow(e._1, e._2)
      i += 1
    }
    new GenericArrayData(arr)
  }

  override def serialize(b: java.util.TreeSet[(Double, Long)]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 16 * b.size)
    buf.putInt(b.size)
    b.forEach(e => { buf.putDouble(e._1); buf.putLong(e._2); () })
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Double, Long)] = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val b = createAggregationBuffer()
    var i = 0
    while (i < n) { b.add((buf.getDouble, buf.getLong)); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairs =
    copy(ord = newChildren(0), id = newChildren(1))
}

object SketchAggregates {

  private[plans] def buildKmv(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      "graft_kmv takes exactly 2 arguments: (hash: bigint, k: int literal)")
    val k = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case e => throw new IllegalArgumentException(
        s"graft_kmv k must be an int literal, got $e")
    }
    KmvBottomK(exprs.head, k)
  }

  private[plans] def buildTopK(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      "graft_topk takes exactly 3 arguments: (ord: double, id: bigint, k: int literal)")
    val k = exprs(2) match {
      case Literal(v: Int, IntegerType) => v
      case e => throw new IllegalArgumentException(
        s"graft_topk k must be an int literal, got $e")
    }
    TopKPairs(exprs(0), exprs(1), k)
  }

  /** Register `graft_kmv` / `graft_topk` in the session's function
    * registry (the [[VectorExpressions.register]] pattern — the analyzer
    * wraps the returned AggregateFunction in an AggregateExpression).
    */
  def register(spark: SparkSession): Unit =
    VectorExpressions.registerMissing(spark,
      ("graft_kmv", buildKmv), ("graft_topk", buildTopK))
}
