package graft.perfbench

/** Per-layer metrics from the spans of the measured passes (pass >= 1),
  * as per-pass means. A layer a workload does not call reports 0.
  */
object Layers {

  private def measured = Trace.spans.filter(s => s.pass >= 1 && s.end > 0)
  private def passes: Int =
    math.max(1, measured.filter(_.name == "pass").map(_.pass).distinct.size)
  private def named(prefix: String) = measured.filter(_.name.startsWith(prefix))
  private def sumS(spans: Iterable[Span]) = spans.map(_.seconds).sum / passes
  private def attr(spans: Iterable[Span], k: String) =
    spans.flatMap(_.attrs.get(k)).sum / passes

  /** The span and every span under it. */
  private def subtree(roots: Iterable[Span]): Iterable[Span] = {
    val kids = measured.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(walk).toSeq
    roots.flatMap(walk)
  }

  private def tasksOf(spans: Iterable[Span]): Seq[Long] =
    subtree(spans).flatMap(s => s.taskDurations.synchronized(s.taskDurations.toSeq)).toSeq
  private def maxTaskS(spans: Iterable[Span]) =
    tasksOf(spans).foldLeft(0L)(_ max _) / 1e3
  private def skew(spans: Iterable[Span]) = {
    val t = tasksOf(spans)
    if (t.isEmpty) 0.0
    else t.max / math.max(1.0, Stats.median(t.map(_.toDouble)))
  }
  private def sumL(spans: Iterable[Span])(f: Span => Long): Double =
    subtree(spans).map(f).sum.toDouble / passes
  private def util(spans: Iterable[Span], cores: Int) = {
    val wall = spans.map(_.seconds).sum
    if (wall <= 0) 0.0 else sumL(spans)(_.taskMs.get) * passes / 1e3 / (wall * cores)
  }
  private def jvmGc(spans: Iterable[Span]) = spans.map(_.jvmGcMs).sum / 1e3 / passes

  /** Sum of the direct children's walls over the pass wall (median over
    * passes): how much of the traced job time the layer spans account for.
    */
  def coverage(): Double = {
    val kids = measured.groupBy(_.parent)
    Stats.median(measured.filter(_.name == "pass").map { p =>
      kids.getOrElse(p.id, Nil).map(_.seconds).sum / p.seconds
    }.toSeq)
  }

  def metrics(cores: Int): Seq[(String, Double, String)] = {
    val mb = 1048576.0
    val entry = named("SparkEntry.query")
    val edges = named("EdgeBuilder.")
    val csr = named("Csr.")
    val loop = named("Superstep.")
    val rounds = attr(named("algos.pagerank"), "rounds")
    val ops = named("operators.")
    val minhash = named("operators.minhash")
    val fn = named("functions.")
    val ck = named("Checkpoint.write")
    val stream = named("streaming.")
    val fnS = sumS(fn)
    val stS = sumS(stream)
    Seq(
      ("SparkEntry.build_s", sumS(named("SparkEntry.build")), "s"),
      ("SparkEntry.action_s", sumS(named("SparkEntry.action")), "s"),
      ("SparkEntry.jobs", sumL(entry)(_.jobs.get), "count"),
      ("SparkEntry.codegen_compiles",
        entry.map(_.codegenCompiles).sum.toDouble / passes, "count"),
      ("SparkEntry.codegen_s", entry.map(_.codegenMs).sum / 1e3 / passes, "s"),
      ("SparkEntry.task_util", util(entry, cores), "ratio"),
      ("EdgeBuilder.s", sumS(edges), "s"),
      ("EdgeBuilder.edges", attr(edges, "edges"), "count"),
      ("EdgeBuilder.shuffle_write_mb",
        sumL(edges)(_.shuffleWriteBytes.get) / mb, "MB"),
      ("EdgeBuilder.max_task_s", maxTaskS(edges), "s"),
      ("EdgeBuilder.task_skew", skew(edges), "ratio"),
      ("EdgeBuilder.gc_s", jvmGc(edges), "s"),
      ("Csr.s", sumS(csr), "s"),
      ("Csr.blocks", attr(csr, "blocks"), "count"),
      ("Csr.entries", attr(csr, "entries"), "count"),
      ("Csr.cached_mb", attr(csr, "cached_bytes") / mb, "MB"),
      ("Superstep.round_s", Stats.median(
        named("algos.pagerank").flatMap(_.attrs.get("round_s")).toSeq) match {
        case x if x.isNaN => 0.0
        case x => x
      }, "s"),
      ("Superstep.rounds", rounds, "count"),
      ("Superstep.jobs_per_round",
        if (rounds > 0) sumL(loop)(_.jobs.get) / rounds else 0.0, "count"),
      ("Superstep.shuffle_mb_per_round",
        if (rounds > 0) sumL(loop)(_.shuffleWriteBytes.get) / mb / rounds
        else 0.0, "MB"),
      ("Superstep.task_util", util(loop, cores), "ratio"),
      ("Superstep.gc_s", jvmGc(loop), "s"),
      ("algos.pagerank_s", sumS(named("algos.pagerank")), "s"),
      ("algos.wcc_s", sumS(named("algos.wcc")), "s"),
      ("algos.wcc_rounds", attr(named("algos.wcc"), "rounds"), "count"),
      ("algos.labelprop_s", sumS(named("algos.labelprop")), "s"),
      ("algos.triangles_s", sumS(named("algos.triangles")), "s"),
      ("operators.minhash_s", sumS(minhash), "s"),
      ("operators.simhash_s", sumS(named("operators.simhash")), "s"),
      ("operators.contamination_s",
        sumS(named("operators.contamination")), "s"),
      ("operators.quality_s", sumS(named("operators.quality")), "s"),
      ("operators.max_task_s", maxTaskS(ops), "s"),
      ("operators.shuffle_records_per_pair", {
        val pairs = attr(minhash, "rows")
        if (pairs > 0) sumL(minhash)(_.shuffleWriteRecords.get) / pairs
        else 0.0
      }, "ratio"),
      ("functions.s", fnS, "s"),
      ("functions.rows_per_s",
        if (fnS > 0) attr(fn, "rows") / fnS else 0.0, "rows/s"),
      ("Checkpoint.writes", ck.size.toDouble / passes, "count"),
      ("Checkpoint.write_s", sumS(ck), "s"),
      ("Checkpoint.mb_written", attr(ck, "bytes") / mb, "MB"),
      ("Checkpoint.latest_s", sumS(named("Checkpoint.latest")), "s"),
      ("streaming.s", stS, "s"),
      ("streaming.rows_per_s",
        if (stS > 0) attr(stream, "rows") / stS else 0.0, "rows/s"),
    )
  }
}
