package graft.perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft._
import graft.algos.{LabelProp, PageRank, PrResult, Triangles, Wcc}

/** Times and sizes the Checkpoint layer from outside: every call is a
  * span, and the bytes of each committed snapshot are recorded on it. It
  * also notes the iteration of each snapshot written and of the one
  * `latest` returned, so a check can tell a resumed run from a fresh one.
  */
final class RecordingStore(inner: SnapshotStore) extends SnapshotStore {
  val written = new scala.collection.mutable.ArrayBuffer[Int]
  var resumedFrom: Option[Int] = None
  override def write(iteration: Int, state: DataFrame,
      metrics: Map[String, Double]): Snapshot =
    Trace.span("Checkpoint.write") {
      val s = inner.write(iteration, state, metrics)
      written += iteration
      Trace.attr("bytes", s.files.map(_._2).sum.toDouble)
      s
    }
  override def latest(spark: SparkSession): Option[(Snapshot, DataFrame)] =
    Trace.span("Checkpoint.latest") {
      val r = inner.latest(spark)
      resumedFrom = r.map(_._1.iteration)
      r
    }
}

/** `linkgraph`: the paper's pipeline on a seeded source-code table —
  * co-occurrence edges, CSR pack, PageRank at a fixed superstep count,
  * label propagation, the global triangle count, and WCC run as the
  * resume path: part-way with a snapshot store, then a fresh call on the
  * same store root converges. The input's chain component makes WCC take
  * 18 rounds, so the resuming call alone runs 17.
  */
final class LinkGraph(work: String) extends Workload {
  val Supersteps = 10
  /** WCC rounds run with a snapshot store before the fresh resuming call. */
  val PrefixRounds = 1
  val Lp = LpConfig(distinctCanonical = true)
  val MaxGroup = EdgeConfig().maxGroup

  private var path: String = _
  private var rows: Array[SourceFile] = _
  private var ref: Check.GraphRef = _
  /** Rounds of one straight WCC call, taken in the warm-up pass: the
    * resuming call must run exactly the rounds the prefix did not.
    */
  @volatile private var straightRounds = -1

  override def setup(s: SparkSession, seed: Long, dir: String): Unit = {
    import s.implicits._
    rows = Gen.sourceRows(seed)
    path = s"$dir/source.parquet"
    s.createDataset(rows.toSeq).write.mode("overwrite").parquet(path)
    require(s.read.parquet(path).count() == rows.length,
      "source table did not round-trip")
  }

  /** Every operation of a pass is a query on the source table. */
  override def isQuery(span: String): Boolean = true

  override def prepare(): Unit = {
    ref = Check.graphRef(rows, MaxGroup, Supersteps, Lp)
    System.err.println(s"[perfbench] linkgraph input: ${rows.length} rows, " +
      s"${rows.map(_.commit).distinct.length} commits, ${ref.edges.size} edges, " +
      s"${ref.wcc.size} vertices, ${ref.wcc.values.toSet.size} components, " +
      s"${ref.triangles} triangles")
  }

  private def ranks(r: PrResult): Map[Long, Double] =
    r.ranks.collect().map(x => x.vid -> x.rank).toMap
  private def comps(d: Dataset[CompState]): Map[Long, Long] =
    d.collect().map(x => x.vid -> x.comp).toMap
  private def labels(d: Dataset[LabelState]): Map[Long, Long] =
    d.collect().map(x => x.vid -> x.label).toMap

  override def pass(ctx: PassCtx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the warm-up pass runs every plan shape with fewer supersteps
    val steps = if (ctx.checked) Supersteps else 3
    val lp = if (ctx.checked) Lp else Lp.copy(iterations = 2)
    val built = ctx.op("EdgeBuilder.edges") {
      val src = spark.read.parquet(path).as[SourceFile]
      val e = EdgeBuilder.edges(src, EdgeConfig(maxGroup = MaxGroup))
        .persist(StorageLevel.MEMORY_AND_DISK)
      ctx.held += e
      Trace.attr("edges", e.count().toDouble)
      e
    } { e =>
      Check.edgeDigest(e.collect().iterator.map(x => (x.src, x.dst, x.weight))) ==
        ref.edgeDigest
    }
    if (built.isEmpty) { ctx.skip(10, "no edge table"); return }
    val edges = built.get
    val n = ref.edges.size.toLong

    // operation groups; the warm-up pass spreads them over its sessions
    if (ctx.mine(0)) ctx.op("Csr.buildCut") {
      val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      // the kernels pack with AQE off (its coalescing would break the
      // declared hash layout); a caller of Csr does the same
      val adj = Superstep.withAqeOff(spark)(Csr.buildCut(edges, p,
        Csr.WeightMode.NormUniform, approxEntries = n))
      val entries = Csr.edgeCount(adj)
      val blocks = adj.count()
      val cached = spark.sparkContext.getRDDStorageInfo
        .filter(i => !before(i.id)).map(i => i.memSize + i.diskSize).sum
      Trace.attr("entries", entries.toDouble)
      Trace.attr("blocks", blocks.toDouble)
      Trace.attr("cached_bytes", cached.toDouble)
      (entries, blocks)
    } { case (entries, blocks) =>
      entries == n && blocks == ref.edges.map(_._1).distinct.size
    }

    if (ctx.mine(0)) ctx.op("algos.pagerank") {
      var loop: Option[Span] = None
      val r = PageRank.run(edges, PrConfig(tol = -1.0, maxIter = steps),
        onLoopStart = () => if (Trace.on) loop = Some(Trace.open("Superstep.loop")))
      loop.foreach(Trace.close)
      Trace.attr("rounds", r.iterations.toDouble)
      Trace.attr("round_s", Stats.median(r.perIter.map(_.seconds)))
      ctx.values("pr_edges_per_s") = r.edgesPerSec
      r
    } { r =>
      r.iterations == Supersteps && r.edgeCount == n &&
        Check.allclose(ranks(r), ref.pageRank)
    }

    if (ctx.mine(2)) ctx.op("algos.labelprop")(LabelProp.run(edges, lp)) { l =>
      labels(l) == ref.labels
    }

    if (ctx.mine(0)) ctx.op("algos.triangles") {
      Triangles.globalCount(edges, distinctCanonical = true)
    } { _ == ref.triangles }

    // resume: WCC runs part-way with a snapshot store, then a fresh call
    // given only the store root resumes and converges. The two calls
    // together are the pass's WCC. The warm-up runs one straight call for
    // the round count, and a resume of a few rounds only
    if (!ctx.checked && ctx.mine(1)) ctx.op("algos.wcc_straight") {
      val r = Wcc.run(edges)
      straightRounds = r.iterations
      r
    }(_ => true)
    if (ctx.mine(2)) {
      val root = s"$work/snapshots/pass-${ctx.pass}-${ctx.share}"
      val first = new RecordingStore(new ParquetSnapshotStore(root, "wcc"))
      ctx.op("algos.wcc_prefix") {
        val r = Wcc.run(edges, maxIter = PrefixRounds, store = Some(first),
          checkpointEvery = PrefixRounds)
        Trace.attr("rounds", r.iterations.toDouble)
        r
      } { r => r.iterations == PrefixRounds && first.written == Seq(PrefixRounds) }
      val again = new RecordingStore(new ParquetSnapshotStore(root, "wcc"))
      ctx.op("algos.wcc_resume") {
        val r = Wcc.run(edges, store = Some(again),
          maxIter = if (ctx.checked) 200 else PrefixRounds + 3)
        Trace.attr("rounds", r.iterations.toDouble)
        r
      } { r =>
        again.resumedFrom.contains(PrefixRounds) &&
          r.iterations == straightRounds - PrefixRounds &&
          comps(r.comps) == ref.wcc
      }
      ctx.values("resume_s") = ctx.lastTotal
    }
  }

  override def afterPass(ctx: PassCtx): Unit = {
    super.afterPass(ctx)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$work/snapshots"))
  }
}
