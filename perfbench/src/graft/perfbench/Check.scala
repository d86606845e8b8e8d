package graft.perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String
import graft.{LpConfig, PrConfig, SourceFile}
import graft.oracle.Oracles

/** Output checks: canonical result digests and the plain-Scala reference
  * results the engine's outputs are compared with.
  */
object Check {

  /** Set by `GRAFT_BENCH_CORRUPT_REF=1`: every reference is perturbed, so
    * a run must report every checked operation as failed.
    */
  val corruptRef: Boolean = sys.env.get("GRAFT_BENCH_CORRUPT_REF").contains("1")

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else BigDecimal(d).setScale(7, BigDecimal.RoundingMode.HALF_EVEN)
        .bigDecimal.toPlainString
    case f: Float => canon(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Order-insensitive digest of collected rows: columns by name, floats
    * at 7 decimals, rows sorted.
    */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|"))
      .sorted
    sha256((order.map(columns(_)).mkString("|") +: lines.toSeq).iterator)
  }

  /** The engine's vertex id: xxhash64(repo + "/" + path), seed 42. */
  def vid(repo: String, path: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(s"$repo/$path"), 42L)

  final case class GraphRef(
      edges: Seq[(Long, Long, Double)],
      edgeDigest: String,
      pageRank: Map[Long, Double],
      wcc: Map[Long, Long],
      labels: Map[Long, Long],
      triangles: Long,
  )

  def edgeDigest(edges: Iterator[(Long, Long, Double)]): String =
    sha256(edges.map { case (s, d, w) => s"$s,$d,$w" }.toSeq.sorted.iterator)

  /** Plain-Scala reference for the linkgraph pipeline: the co-occurrence
    * edge table (all pairs per commit; groups over `maxGroup` as a star to
    * their minimum vid), then the in-repo oracles.
    */
  def graphRef(rows: Array[SourceFile], maxGroup: Int, supersteps: Int,
      lp: LpConfig): GraphRef = {
    val w = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
    rows.groupBy(_.commit).valuesIterator.foreach { g =>
      val vs = g.map(f => vid(f.repo, f.path)).distinct.sorted
      if (vs.length <= maxGroup) {
        var i = 0
        while (i < vs.length) {
          var j = i + 1
          while (j < vs.length) {
            val k = (vs(i), vs(j)); w(k) = w.getOrElse(k, 0) + 1; j += 1
          }
          i += 1
        }
      } else vs.tail.foreach { v =>
        val k = (vs.head, v); w(k) = w.getOrElse(k, 0) + 1
      }
    }
    val edges = w.iterator.map { case ((s, d), c) => (s, d, c.toDouble) }
      .toSeq
    val pr = Oracles.pageRank(edges, PrConfig(tol = -1.0, maxIter = supersteps))
    val ref = GraphRef(
      edges,
      edgeDigest(edges.iterator),
      pr,
      Oracles.wcc(edges),
      Oracles.labelProp(edges, lp),
      Oracles.triangles(edges)._1,
    )
    if (!corruptRef) ref
    else {
      val v = ref.wcc.keys.min
      ref.copy(
        edgeDigest = ref.edgeDigest.reverse,
        pageRank = ref.pageRank.updated(v, ref.pageRank(v) + 1e-3),
        wcc = ref.wcc.updated(v, v - 1),
        labels = ref.labels.updated(v, v - 1),
        triangles = ref.triangles + 1,
      )
    }
  }

  /** numpy-style allclose at the engine's 1e-6 contract. */
  def allclose(got: Map[Long, Double], want: Map[Long, Double]): Boolean =
    got.keySet == want.keySet && want.forall { case (v, x) =>
      math.abs(got(v) - x) <= 1e-9 + 1e-6 * math.abs(x)
    }
}
