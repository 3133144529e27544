package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._

/** Connected-component labels of a whole edge list inside ONE task: the
  * local regime of [[Dedup.clustersScoped]].
  *
  * Input: the rows (src, dst) of a SYMMETRIZED, distinct edge list — every
  * edge is present in both directions, so each undirected edge is unioned
  * once (from its src ≤ dst copy) and the node set is the endpoints of
  * those copies. Output: one (id, cluster) row per distinct non-null src,
  * cluster = the component's minimum id — the same rows the distributed
  * label loop converges to.
  *
  * Nodes are numbered by their rank in sorted order, so "smaller index" is
  * "smaller id" and the union-find keeps every root at its set's minimum:
  * a union always hangs the larger root under the smaller one, and path
  * halving never moves a root. The component minimum is then `find(i)`,
  * with no separate min-reduction.
  *
  * Null ids follow the loop's SQL semantics: a null never equals anything,
  * so it bridges nothing (null-keyed joins drop it) but it does group with
  * other nulls. Every null endpoint therefore folds into ONE (null, c) row,
  * c = the least component label among its non-null neighbours (null when
  * it has none), while a node whose only neighbour is null is a singleton.
  *
  * Integral ids take a primitive `long` path (sort + binary search over
  * `Array[Long]`); every other orderable type goes through Catalyst's
  * interpreted ordering, the ordering the loop's `min` aggregate uses. */
private[operators] object UnionFind {

  def labels(edges: Iterator[InternalRow], idType: DataType): Iterator[InternalRow] =
    idType match {
      case LongType    => integral(edges, _.getLong(_), v => v)
      case IntegerType => integral(edges, _.getInt(_).toLong, _.toInt)
      case ShortType   => integral(edges, _.getShort(_).toLong, _.toShort)
      case ByteType    => integral(edges, _.getByte(_).toLong, _.toByte)
      case _           => ordered(edges, idType)
    }

  private def integral(edges: Iterator[InternalRow], get: (InternalRow, Int) => Long,
      box: Long => Any): Iterator[InternalRow] = {
    val a, b, nullNbrs = Array.newBuilder[Long]
    var sawNull = false
    edges.foreach { r =>
      if (r.isNullAt(0)) {
        sawNull = true
        if (!r.isNullAt(1)) nullNbrs += get(r, 1)
      } else {
        val s = get(r, 0)
        // (s, null) registers s as a node with no union: a self-edge
        val d = if (r.isNullAt(1)) s else get(r, 1)
        if (s <= d) { a += s; b += d }
      }
    }
    val (as, bs) = (a.result(), b.result())
    val all = as ++ bs
    java.util.Arrays.sort(all)
    var n = 0
    for (v <- all) if (n == 0 || all(n - 1) != v) { all(n) = v; n += 1 }
    def idx(v: Long) = java.util.Arrays.binarySearch(all, 0, n, v)
    components(n, as.map(idx), bs.map(idx),
      if (sawNull) Some(nullNbrs.result().map(idx)) else None, k => box(all(k)))
  }

  private def ordered(edges: Iterator[InternalRow], idType: DataType): Iterator[InternalRow] = {
    val ord = TypeUtils.getInterpretedOrdering(idType)
    val get = InternalRow.getAccessor(idType)
    // copyValue: a string/struct/array value can be a view into its row's buffer
    def at(r: InternalRow, i: Int): AnyRef = InternalRow.copyValue(get(r, i)).asInstanceOf[AnyRef]
    val a, b, nullNbrs = Array.newBuilder[AnyRef]
    var sawNull = false
    edges.foreach { r =>
      if (r.isNullAt(0)) {
        sawNull = true
        if (!r.isNullAt(1)) nullNbrs += at(r, 1)
      } else {
        val s = at(r, 0)
        val d = if (r.isNullAt(1)) s else at(r, 1)
        if (ord.lteq(s, d)) { a += s; b += d }
      }
    }
    val (as, bs) = (a.result(), b.result())
    val cmp: java.util.Comparator[AnyRef] = ord.compare(_, _)
    val all = as ++ bs
    java.util.Arrays.sort(all, cmp)
    var n = 0
    for (v <- all) if (n == 0 || cmp.compare(all(n - 1), v) != 0) { all(n) = v; n += 1 }
    def idx(v: AnyRef) = java.util.Arrays.binarySearch(all, 0, n, v, cmp)
    components(n, as.map(idx), bs.map(idx),
      if (sawNull) Some(nullNbrs.result().map(idx)) else None, all(_))
  }

  /** Union every (a(k), b(k)) over node indices 0 until n and emit the
    * labels; `nullNbrs` is defined iff a null id was seen and holds the
    * indices of its non-null neighbours. */
  private def components(n: Int, a: Array[Int], b: Array[Int],
      nullNbrs: Option[Array[Int]], node: Int => Any): Iterator[InternalRow] = {
    val parent = Array.range(0, n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var k = 0
    while (k < a.length) {
      val ra = find(a(k))
      val rb = find(b(k))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      k += 1
    }
    def row(id: Any, cluster: Any): InternalRow = new GenericInternalRow(Array[Any](id, cluster))
    Iterator.range(0, n).map(i => row(node(i), node(find(i)))) ++
      nullNbrs.iterator.map(nb =>
        row(null, if (nb.isEmpty) null else node(nb.iterator.map(find).min)))
  }
}
