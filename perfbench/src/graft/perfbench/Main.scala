package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Counters of one pass: every operation is attempted, timed and checked.
  * The warm-up pass (`checked = false`) only counts operations that throw,
  * and is split into `shares` that run concurrently, each in its own
  * session: a workload runs group `i` of its operations only when
  * [[mine]](i).
  */
final class PassCtx(
    val pass: Int,
    val spark: SparkSession,
    val checked: Boolean = true,
    val share: Int = 0,
    shares: Int = 1,
) {
  /** Datasets the workload persisted in this pass, released after it. */
  val held = new ArrayBuffer[org.apache.spark.sql.Dataset[_]]
  def mine(group: Int): Boolean = group % shares == share
  var attempted = 0
  var failed = 0
  /** (span, call wall) of every operation. */
  val latencies = new ArrayBuffer[(String, Double)]
  val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Call plus check wall of the most recent [[op]]. */
  var lastTotal = 0.0

  /** One operation: `call` runs inside a span named `span` and is timed
    * as the operation's latency; `check` then compares its output with
    * the reference. A thrown error or a failed check counts as failed.
    */
  def op[R](span: String)(call: => R)(check: R => Boolean): Option[R] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Some(Trace.span(span)(call))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $span threw: $e")
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    latencies += span -> dt
    val ok = r.exists { x =>
      try !checked || Trace.span("check")(check(x))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $span check threw: $e")
          false
      }
    }
    lastTotal = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] pass $pass%d $span%-36s $dt%8.3f s")
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $span FAILED its output check")
    }
    r
  }

  /** Counts `n` operations that could not run as attempted and failed. */
  def skip(n: Int, why: String): Unit = {
    attempted += n
    failed += n
    System.err.println(s"[perfbench] $n operations skipped: $why")
  }
}

/** A seeded workload: inputs made in set-up, then passes of checked
  * operations against the engine's public entry points.
  */
trait Workload {
  /** Generates the inputs under `dir` and loads them. */
  def setup(spark: SparkSession, seed: Long, dir: String): Unit
  /** Builds the reference results (plain Scala, untimed). */
  def prepare(): Unit
  /** Whether the operation named `span` counts as a query, whose latency
    * goes into `query_p50_s` and `query_tail_s`.
    */
  def isQuery(span: String): Boolean
  def pass(ctx: PassCtx): Unit
  /** Releases what one pass left behind (untimed). */
  def afterPass(ctx: PassCtx): Unit = ctx.held.foreach(_.unpersist(true))
}

/** Benchmark entry point: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>` prints one JSON line last on stdout.
  * `--write-ref <file>` instead runs one pass of the query sweep and
  * writes its result digests (the committed reference).
  */
object Main {
  /** Set-ups per run. The first also pays JVM class loading and is
    * reported on its own; `setup_s` is the median of the others.
    */
  val SetupReps = 4
  /** Concurrent sessions of the warm-up pass: it only has to compile every
    * plan shape once, and those compiles run in parallel.
    */
  val WarmupShares = 3

  def main(argv: Array[String]): Unit = {
    val jvmUp = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    args.get("--dump-tables").foreach { dir =>
      // every sweep table at its generator seed, for the oracle check
      val spark = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${args("--work")}/spark-local")
        .getOrCreate()
      Gen.sweepTables(Gen.SweepDataSeed).foreach { case (n, sc, rows) =>
        Gen.write(spark, dir, n, sc, rows)
      }
      spark.stop()
      return
    }
    val name = args("--workload")
    val seed = args("--seed").toLong
    val seconds = args("--seconds").toDouble
    val traced = args.get("--trace").contains("1")
    val work = new java.io.File(args("--work")).getAbsolutePath
    val writeRef = args.get("--write-ref")
    val wl: Workload = name match {
      case "linkgraph" => new LinkGraph(work)
      case "query-sweep" =>
        new Sweep(work, args.getOrElse("--ref", ""), writeRef.isDefined)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    val cores = Runtime.getRuntime.availableProcessors()

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$name")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.streaming.checkpointLocation", s"$work/stream-ckpt")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // set-up, repeated: session start + input generation + load
    val setups = new ArrayBuffer[Double]
    var spark: SparkSession = null
    (0 until SetupReps).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      wl.setup(spark, seed, s"$work/input")
      setups += (System.nanoTime() - t0) / 1e9
    }
    val tRef = System.nanoTime()
    wl.prepare()
    val refS = (System.nanoTime() - tRef) / 1e9

    // the warm-up pass: JIT, codegen and the engine's in-process memos
    // fill here. It runs every operation (iterative ones with fewer
    // supersteps) and counts only thrown errors
    val tCold = System.nanoTime()
    val colds =
      if (writeRef.isDefined) {
        val c = new PassCtx(0, spark)
        wl.pass(c)
        Seq(c)
      } else {
        val cs = (0 until WarmupShares).map(i => new PassCtx(0,
          if (i == 0) spark else spark.newSession(), checked = false, i,
          WarmupShares))
        val ts = cs.map(c => new Thread(() =>
          try wl.pass(c)
          catch { case NonFatal(e) => c.skip(1, s"warm-up share: $e") }))
        ts.foreach(_.start())
        ts.foreach(_.join())
        cs
      }
    val coldS = (System.nanoTime() - tCold) / 1e9
    // settle: the warm-up's garbage, the context cleaner's work on it and
    // queued JIT compiles drain before measuring, so that an operation's
    // latency does not depend on its position in the pass
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(1000) }
    if (traced) {
      Trace.install(spark.sparkContext)
      Trace.on = true
    }
    System.err.println(f"[perfbench] jvm $jvmUp%.2f s, set-ups " +
      setups.map(x => f"$x%.2f").mkString(" ") +
      f" s, reference $refS%.2f s, warm-up $coldS%.2f s")
    colds.foreach(wl.afterPass)
    if (writeRef.isDefined) {
      val cold = colds.head
      wl.asInstanceOf[Sweep].writeReference(spark, writeRef.get)
      println(s"""{"reference":${Json.str(writeRef.get)},"failed":${cold.failed}}""")
      spark.stop()
      return
    }

    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
    val passes = new ArrayBuffer[PassCtx]
    val walls = new ArrayBuffer[Double]
    val heapPeaks = new ArrayBuffer[Double]
    val gcS = new ArrayBuffer[Double]
    val tMeasure = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - tMeasure) / 1e9 < seconds) {
      val ctx = new PassCtx(passes.length + 1, spark)
      heap.foreach(_.resetPeakUsage())
      val g0 = gcMs
      Trace.pass = ctx.pass
      val t0 = System.nanoTime()
      Trace.span("pass")(wl.pass(ctx))
      walls += (System.nanoTime() - t0) / 1e9
      gcS += (gcMs - g0) / 1e3
      heapPeaks += heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      passes += ctx
      wl.afterPass(ctx)
    }

    val all = colds ++ passes.toSeq
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    def med(xs: Seq[Double]): Double = Stats.median(xs)
    val lat = passes.flatMap(_.latencies).collect {
      case (span, dt) if wl.isQuery(span) => dt
    }.toSeq
    def value(k: String) = med(passes.flatMap(_.values.get(k)).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", med(setups.tail.toSeq), "s"),
        ("job_s", med(walls.toSeq), "s"),
        ("query_p50_s", med(lat), "s"),
        ("query_tail_s", Stats.tail(lat), "s"),
        ("pr_edges_per_s", value("pr_edges_per_s"), "edges/s"),
        ("resume_s", value("resume_s"), "s"),
      )
      else {
        Trace.drain()
        // persistent RDDs the engine left registered, after a forced GC
        // lets the context cleaner drop unreachable ones
        System.gc()
        Thread.sleep(500)
        val residual = spark.sparkContext.getPersistentRDDs.size
        Seq(
          ("failed_ratio", failed.toDouble / attempted, "ratio"),
          ("peak_heap_mb", med(heapPeaks.toSeq), "MB"),
          ("setup.first_s", setups.head, "s"),
          ("setup.jvm_s", jvmUp, "s"),
          ("setup.cold_pass_s", coldS, "s"),
          ("setup.reference_s", refS, "s"),
          ("trace.job_s", med(walls.toSeq), "s"),
          ("trace.coverage", Layers.coverage(), "ratio"),
          ("query.samples", lat.size.toDouble, "count"),
          ("jvm.gc_s", med(gcS.toSeq), "s"),
          // the listener is installed after the warm-up: its totals cover
          // the measured passes only
          ("spark.tasks", Trace.allTasks.get.toDouble / passes.size, "count"),
          ("spark.spill_mb",
            Trace.allSpillBytes.get / 1048576.0 / passes.size, "MB"),
          ("spark.residual_rdds", residual.toDouble, "count"),
        ) ++ Layers.metrics(cores)
      }
    if (traced) {
      val f = new java.io.File(s"$work/trace-$name-$seed.jsonl")
      java.nio.file.Files.writeString(f.toPath, Trace.toJson + "\n")
      System.err.println(s"[perfbench] spans written to $f")
    }
    spark.stop()
    val m = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$m}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Nearest-rank 90th percentile. A run holds one pass of 7 (linkgraph)
    * or 30 (query-sweep) queries: too few for the highest percentile with
    * ten samples beyond it, which needs 100.
    */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply(math.ceil(0.9 * xs.size).toInt - 1)
}
