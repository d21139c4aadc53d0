package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Bounded graph loops on the driver: the path [[Bfs]] and
  * [[ConnectedComponents]] take on a graph of at most [[MaxEdges]]
  * directed input edges. The raw (src, dst) list collects in one job
  * (`limit(MaxEdges + 1)`, as the Lloyd fits collect their corpus);
  * BFS then runs over a CSR adjacency on primitive arrays and
  * components over a union-find, and each result is a LocalRelation
  * with the distributed loop's columns and types. The distributed
  * loops pay several Spark jobs per round; on a graph this small that
  * floor is the whole cost.
  *
  * [[collect]] gives None, and the caller runs its distributed loop
  * unchanged, in reliable [[Ckpt]] mode (so the opt-in still writes
  * its recoverable files), past the gate, on a NULL endpoint, and when
  * an id column is not Byte/Short/Int/Long. GraphFormSpec compares the
  * two forms. */
private[ext] object DriverGraph {

  /** The driver path's budget in directed input edges (2^20: 16 MB of
    * ids as two long arrays). `g_bfs` at sf0.1 is within it. */
  val MaxEdges: Int = 1 << 20

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** `edges`' (src, dst) pairs as a [[Graph]], or None where the
    * distributed loop runs instead. */
  def collect(edges: DataFrame, src: String, dst: String): Option[Graph] = {
    val pairs = edges.select(col(src), col(dst))
    if (Ckpt.reliable(edges.sparkSession) ||
        !pairs.schema.forall(f => integral(f.dataType))) None
    else {
      val rows = pairs.limit(MaxEdges + 1).collect()
      if (rows.length > MaxEdges ||
          rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
      else {
        // the node field of the symmetrized union the distributed
        // loops read (analysis only): the wider type, either's NULLs
        val node = edges.select(col(src).as("a"))
          .unionByName(edges.select(col(dst).as("a"))).schema("a")
        def ends(i: Int) = rows.map(_.get(i).asInstanceOf[Number].longValue)
        Some(new Graph(edges.sparkSession, node, ends(0), ends(1)))
      }
    }
  }

  /** An undirected graph on the driver: node ids ascending (`ids`, so
    * node 0 is the minimum), and each input edge as two node indices.
    * `node` is the id field of the distributed result. */
  final class Graph(spark: SparkSession, node: StructField,
      a: Array[Long], b: Array[Long]) {
    val ids: Array[Long] = {
      val all = a ++ b
      java.util.Arrays.sort(all)
      var n = 0
      for (i <- all.indices) if (i == 0 || all(i) != all(i - 1)) {
        all(n) = all(i); n += 1
      }
      java.util.Arrays.copyOf(all, n)
    }
    private def index(v: Array[Long]) =
      v.map(java.util.Arrays.binarySearch(ids, _))
    private val src = index(a)
    private val dst = index(b)

    /** The id in the node field's type. */
    private val box: Long => Any = node.dataType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }

    private def frame(fields: Seq[StructField], rows: Seq[Row]): DataFrame =
      Similarity.localFrame(spark, StructType(fields), rows)

    /** Rows, and distinct rows, of the symmetrized pair list: what the
      * distributed `symIsDistinct` guard counts. */
    def symCounts: (Long, Long) = {
      val m = src.length
      val packed = Array.tabulate(2 * m)(i =>
        if (i < m) (src(i).toLong << 32) | dst(i)
        else (dst(i - m).toLong << 32) | src(i - m))
      java.util.Arrays.sort(packed)
      val distinct = packed.indices
        .count(i => i == 0 || packed(i) != packed(i - 1))
      (packed.length.toLong, distinct.toLong)
    }

    /** [[Bfs.distances]] from node 0, round by round as the distributed
      * loop runs: a node's distance is the round that first reaches it,
      * and at most `maxIter` rounds run. The frame is (node, dist) in
      * discovery order; the flag is true when the last frontier was
      * still live (the distributed loop's truncation warning). */
    def bfs(maxIter: Int): (DataFrame, Boolean) = {
      val n = ids.length
      val off = new Array[Int](n + 1)
      for (i <- src.indices) { off(src(i) + 1) += 1; off(dst(i) + 1) += 1 }
      for (u <- 0 until n) off(u + 1) += off(u)
      val adj = new Array[Int](off(n))
      val fill = java.util.Arrays.copyOf(off, n)
      for (i <- src.indices) {
        adj(fill(src(i))) = dst(i); fill(src(i)) += 1
        adj(fill(dst(i))) = src(i); fill(dst(i)) += 1
      }
      val dist = Array.fill(n)(-1)
      val order = new Array[Int](n) // discovered nodes; a round's frontier
      var len = 0                   // is the slice [from, end)
      if (n > 0) { dist(0) = 0; len = 1 }
      var from = 0
      var iter = 0
      var done = n == 0
      while (!done && iter < maxIter) {
        val end = len
        for (i <- from until end; j <- off(order(i)) until off(order(i) + 1))
          if (dist(adj(j)) < 0) {
            dist(adj(j)) = iter + 1; order(len) = adj(j); len += 1
          }
        if (len == end) done = true
        else { from = end; iter += 1 }
      }
      (frame(Seq(node.copy(name = "node", nullable = true),
          StructField("dist", LongType, nullable = false)),
        (0 until len).map(i =>
          Row(box(ids(order(i))), dist(order(i)).toLong))), !done)
    }

    /** [[ConnectedComponents.components]]: (id, comp) for every node,
      * comp = the smallest id of its component, by a union-find whose
      * root is always its set's smallest index. `comp` is nullable as
      * in the label-propagation result. */
    def components: DataFrame = {
      val parent = Array.range(0, ids.length)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      for (i <- src.indices) {
        val (ra, rb) = (find(src(i)), find(dst(i)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      frame(Seq(node.copy(name = "id"),
          node.copy(name = "comp", nullable = true)),
        ids.indices.map(i => Row(box(ids(i)), box(ids(find(i))))))
    }
  }
}
