package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import graft.SourceFile

/** Seeded input generators. Every table is a pure function of its seed:
  * plain-Scala rows from one `SplittableRandom`, written to parquet once
  * per set-up. The engine only ever sees the parquet files.
  */
object Gen {

  /** Zipf(s) weights over n ranks, normalised to sum 1. */
  private def zipf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val t = w.sum
    w.map(_ / t)
  }

  /** Index drawn from a cumulative distribution. */
  private def draw(cum: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cum, u)
    math.min(cum.length - 1, if (i >= 0) i else -i - 1)
  }

  private def cumulative(w: Array[Double]): Array[Double] =
    w.scanLeft(0.0)(_ + _).tail

  // ---- linkgraph: the source-code table (BASELINE.json input schema) ----

  // Sizes of one linkgraph input. Counts are fixed; the seed only decides
  // which repo, file and commit each touch lands on, so every seed yields
  // a graph of nearly the same size.
  private val Repos = 40
  private val FilesPerRepoMax = 3000
  private val Commits = 5000
  private val HubCommits = 3
  private val HubSize = 1200 // > EdgeConfig.maxGroup (1024): star-capped
  // Links of the long-diameter component: a path of files, one commit per
  // link. Its WCC needs 18 rounds: one call runs past the round (about
  // 16) from which each round's plan-size estimate takes about twice as
  // long to compute as the last one's.
  private val ChainLinks = 40

  private val Langs = Array("scala", "java", "py", "md")

  /** Rows of (repo, path, commit, lang, content). Repos are Zipf-sized;
    * commit sizes follow a heavy-tailed (2 + geometric) law; a few hub
    * commits in the largest repo touch more files than EdgeBuilder's
    * all-pairs cap; and one repo is a chain of two-file commits, the same
    * for every seed, whose files form a path of `ChainLinks` edges.
    */
  def sourceRows(seed: Long): Array[SourceFile] = {
    val r = new SplittableRandom(seed)
    val out = Array.newBuilder[SourceFile]
    def add(repo: String, path: String, commit: String, lang: String): Unit =
      out += SourceFile(repo, path, commit, lang, s"$repo:$path@$commit:$lang")
    val repoW = zipf(Repos, 1.1)
    val repoCum = cumulative(repoW)
    val files = repoW.map(w =>
      math.max(8, (w / repoW(0) * FilesPerRepoMax).toInt))
    // within a repo a few files are touched far more often (hub files)
    val fileCum = files.map(n => cumulative(zipf(n, 0.8)))
    def touch(repo: Int, file: Int, commit: String): Unit = {
      val lang = Langs(file % 4)
      add(s"repo$repo", s"src/m${file % 23}/F$file.$lang", commit, lang)
    }
    var c = 0
    while (c < Commits) {
      val repo = draw(repoCum, r)
      var k = 2
      while (k < 40 && r.nextDouble() < 0.55) k += 1
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < math.min(k, files(repo)))
        picked += draw(fileCum(repo), r)
      picked.foreach(f => touch(repo, f, s"c$c"))
      c += 1
    }
    var h = 0
    while (h < HubCommits) {
      val start = r.nextInt(files(0))
      (0 until HubSize).foreach(i =>
        touch(0, (start + i) % files(0), s"hub$h"))
      h += 1
    }
    (0 until ChainLinks).foreach { i =>
      add("chain", s"src/chain/C$i.scala", s"chain$i", "scala")
      add("chain", s"src/chain/C${i + 1}.scala", s"chain$i", "scala")
    }
    out.result()
  }

  // ---- query-sweep: the TPC-H-ish star schema + events + corpus ----

  /** Generator seed of the sweep tables. query-sweep ignores the run's
    * `--seed`, so the committed reference digests hold for every run.
    */
  val SweepDataSeed = 42L

  private val Words = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "der", "die",
      "und", "das")
    val on = Seq("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s",
      "t", "v", "z")
    val nu = Seq("a", "e", "i", "o", "u")
    val gen = for { x <- on; y <- nu; z <- on.take(6) } yield s"$x$y$z"
    (stop ++ gen.map(_ + "ing") ++ gen.map(_ + "er")).toArray
  }

  /** Document corpus: `Docs` rows of 60-120 tokens. A planted share
    * (every 8th doc) is a near copy of an earlier doc with ~5% of tokens
    * replaced (Jaccard ≈ 0.75 on 3-shingles), and one hot cluster of
    * `HotDocs` docs are copies of one text with a single token changed, so
    * they all share every LSH band: one quadratic candidate bucket.
    */
  private val Docs = 400
  private val HotDocs = 24

  def corpusRows(seed: Long): Array[Row] = {
    val r = new SplittableRandom(seed)
    val langs = Array("en", "de", "fr", "es", "zh")
    val texts = new Array[Array[String]](Docs)
    def fresh(): Array[String] =
      Array.fill(60 + r.nextInt(61))(Words(r.nextInt(Words.length)))
    val hotBase = fresh()
    var i = 0
    while (i < Docs) {
      texts(i) =
        if (i < HotDocs) {
          val t = hotBase.clone()
          t(i % t.length) = Words(r.nextInt(Words.length))
          t
        } else if (i % 8 == 7) {
          val t = texts(HotDocs + r.nextInt(i - HotDocs)).clone()
          t.indices.foreach(j =>
            if (r.nextInt(20) == 0) t(j) = Words(r.nextInt(Words.length)))
          t
        } else fresh()
      i += 1
    }
    texts.zipWithIndex.map { case (t, id) =>
      val text = t.mkString(" ")
      Row(id.toLong, text, langs(r.nextInt(langs.length)),
        s"src${r.nextInt(20)}", text.length.toLong)
    }
  }

  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def ts(ms: Long): Timestamp = new Timestamp(ms)
  private val Day = 24L * 3600 * 1000
  private val Y1995 = 788918400000L // 1995-01-01T00:00:00Z
  private val Y2024 = 1704067200000L // 2024-01-01T00:00:00Z
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Every sweep table as (name, schema, rows), sized like the sf0.001
    * repository's testdata (lineitem 6000 rows).
    */
  def sweepTables(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    val r = new SplittableRandom(seed)
    def f(n: String, t: DataType) = StructField(n, t)
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val customer = (0 until 150).map(i => Row(i.toLong,
      f"Customer#$i%09d", r.nextInt(25), money(r, -999, 9999),
      segs(r.nextInt(5))))
    val supplier = (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d",
      r.nextInt(25), money(r, -999, 9999)))
    val adj = Array("cold", "small", "large", "shiny", "burnished", "plated")
    val noun = Array("widget", "gadget", "bolt", "gear", "valve")
    val types = Array("ECONOMY", "PROMO", "LARGE", "STANDARD", "SMALL")
    val part = (0 until 200).map(i => Row(i.toLong,
      s"${adj(r.nextInt(adj.length))} ${noun(r.nextInt(noun.length))}",
      s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.length)),
      1 + r.nextInt(50), 900.0 + i * 0.1))
    val status = Array("F", "O", "P")
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    // customers 120..149 place no orders (q_cust_no_orders finds them)
    val orders = (0 until 1500).map(i => Row(i.toLong,
      r.nextInt(120).toLong, status(r.nextInt(3)), money(r, 1000, 400000),
      ts(Y1995 + r.nextInt(2400) * Day), prio(r.nextInt(5))))
    val flags = Array("A", "N", "R")
    val lineitem = {
      val b = Seq.newBuilder[Row]
      var o = 0
      var n = 0
      while (n < 6000) {
        val lines = 1 + r.nextInt(7)
        var l = 1
        while (l <= lines && n < 6000) {
          val qty = (1 + r.nextInt(50)).toDouble
          b += Row((o % 1500).toLong, r.nextInt(200).toLong,
            r.nextInt(10).toLong, l, qty, money(r, 900, 100000),
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            flags(r.nextInt(3)), if (r.nextBoolean()) "O" else "F",
            ts(Y1995 + r.nextInt(2500) * Day))
          l += 1; n += 1
        }
        o += 1
      }
      b.result()
    }
    val evTypes = Array("click", "error", "purchase", "signup", "view")
    val events = (0 until 1000).map(i => Row(i.toLong,
      ts(Y2024 + r.nextLong(30L * Day)), r.nextInt(15).toLong,
      evTypes(r.nextInt(5)), money(r, 0.01, 330),
      s"""{"k": ${r.nextInt(100)}}"""))
    val embeddings = (0 until 300).map { i =>
      Row(i.toLong,
        Array.fill(64)((r.nextDouble() * 0.5 - 0.25).toFloat).toSeq,
        r.nextInt(10))
    }
    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType),
        f("r_name", StringType))), region),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType),
        f("n_name", StringType), f("n_regionkey", IntegerType))), nation),
      ("customer", StructType(Seq(f("c_custkey", LongType),
        f("c_name", StringType), f("c_nationkey", IntegerType),
        f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        customer),
      ("supplier", StructType(Seq(f("s_suppkey", LongType),
        f("s_name", StringType), f("s_nationkey", IntegerType),
        f("s_acctbal", DoubleType))), supplier),
      ("part", StructType(Seq(f("p_partkey", LongType),
        f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(f("o_orderkey", LongType),
        f("o_custkey", LongType), f("o_orderstatus", StringType),
        f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
        f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType),
        f("l_partkey", LongType), f("l_suppkey", LongType),
        f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
        f("l_tax", DoubleType), f("l_returnflag", StringType),
        f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
        lineitem),
      ("events", StructType(Seq(f("event_id", LongType),
        f("ts", TimestampType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), events),
      ("documents", CorpusSchema, corpusRows(seed).toSeq),
      ("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = false)),
        f("label", IntegerType))), embeddings),
    )
  }

  /** Writes `rows` as the single parquet file `dir/name.parquet` (the
    * layout of the repository's testdata), with a modification time that orders
    * it among files a stream source picks up; returns it loaded.
    */
  def write(spark: SparkSession, dir: String, name: String,
      schema: StructType, rows: Seq[Row], order: Int = 0): DataFrame = {
    val tmp = s"$dir/.tmp-$name"
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val out = new java.io.File(s"$dir/$name.parquet")
    java.nio.file.Files.move(part.toPath, out.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    out.setLastModified(1700000000000L + order * 1000L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    spark.read.parquet(out.getPath)
  }
}
