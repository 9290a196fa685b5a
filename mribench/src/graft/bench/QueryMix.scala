package graft.bench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}

/** `query_mix`: fixed non-streaming `SparkEntry.queries` over seeded
  * TPC-H-like tables. The short set is dominated by `Tables` reads,
  * planning, eager guard jobs and scheduling; the similarity set by
  * operator task time. Each query is timed several times after untimed
  * warm-up reps, and a set's figure is the sum of its queries' medians. */
object QueryMix {
  val Short: Seq[String] = Seq("q01_agg_counters", "q04_semi_join_approved",
    "q06_join_supplier_rev", "q07_multijoin_region_year", "q09_histogram",
    "q11_window_running", "q12_topk_per_group", "q13_split_by_slice", "q15_rollup_region",
    "q17_setops", "q42_tiling_grid", "q46_dark_filter", "q56_grouping_sets",
    "q57_window_funcs")
  val Similarity: Seq[String] = Seq("q192_knn_core", "q202_knn_core_banded", "q254_lsh_scurve")

  def run(c: Ctx): Unit = {
    val dir = new File(c.work, "tables").getPath
    c.fixture { QueryTables.write(c, dir); Fs.syncTree(new File(dir)) }
    val queries = SparkEntry.queries
    val t = c.tracer
    val digests = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val firstS = mutable.HashMap.empty[String, Double]

    /** One execution: build the DataFrame (eager guard jobs run here),
      * plan it, collect it; checks every result against the first one. */
    def exec(q: String, traced: Boolean): Execution = {
      val s0 = c.stats.snap(c.spark)
      val df = if (traced) t.span("operators", s"$q.build")(queries(q)(c.spark, dir))
        else queries(q)(c.spark, dir)
      val s1 = c.stats.snap(c.spark)
      if (traced) t.span("operators", s"$q.plan")(df.queryExecution.executedPlan)
      val s2 = c.stats.snap(c.spark)
      val rows = if (traced) t.span("operators", s"$q.exec")(df.collect()) else df.collect()
      val s3 = c.stats.snap(c.spark)
      val d = digest(rows)
      val want = digests.putIfAbsent(q, d)
      if (want != null) c.check(d == want, s"query_mix: $q returned $d, first rep $want")
      Execution(s1 - s0, s2 - s1, s3 - s2)
    }

    // the two sets warm up concurrently: the short set mostly waits on
    // scheduling, so overlapping it with the similarity set's task time
    // shortens set-up without changing what is warmed
    c.warmup {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      def warm(set: Seq[String]): Seq[(String, Double)] = set.map(q => q -> exec(q, false).total.wallS)
      val sim = Future(warm(Similarity))
      val short = warm(Short)
      firstS ++= short ++ Await.result(sim, Duration.Inf)
    }

    val runs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Execution]]
    val tracedRuns = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Execution]]
    /** Passes over `set` until the next one would overrun `budgetS`, at
      * least one. Traced runs alternate untraced and traced passes,
      * starting and ending untraced, so a warming trend does not bias the
      * overhead ratio. */
    def part(set: Seq[String], budgetS: Double): Unit = {
      val t0 = System.nanoTime()
      var pass = 0
      var lastS = 0.0
      val least = if (c.trace) 3 else 1
      while (pass < least || (System.nanoTime() - t0) / 1e9 + lastS <= budgetS ||
          (c.trace && pass % 2 == 0)) {
        val traced = c.trace && pass % 2 == 1
        val p0 = System.nanoTime()
        set.foreach { q =>
          val (e, _) = c.unit(exec(q, traced))
          (if (traced) tracedRuns else runs).getOrElseUpdate(q, mutable.ArrayBuffer.empty) += e
        }
        lastS = (System.nanoTime() - p0) / 1e9
        pass += 1
      }
    }
    part(Short, c.seconds / 2)
    part(Similarity, c.seconds / 2)
    (Short ++ Similarity).foreach(q => Pinned.check(c, "query_mix", q, digests.get(q)))

    val untraced = runs.view.mapValues(_.toSeq).toMap
    def med(q: String, f: Execution => Double, from: Map[String, Seq[Execution]] = untraced) =
      Stat.median(from(q).map(f))
    val shortS = Short.map(med(_, _.total.wallS)).sum
    val simS = Similarity.map(med(_, _.total.wallS)).sum
    c.e2e("bulk_s") = (simS, "s")
    c.e2e("short_ms") = (shortS * 1000.0, "ms")
    c.layer("query.short_s") = (shortS, "s")
    c.layer("query.similarity_s") = (simS, "s")
    (Short ++ Similarity).foreach(q => c.layer(s"query.${q}_s") = (med(q, _.total.wallS), "s"))
    c.layer("cache.warm_s") = (Similarity.map(q => math.max(0.0, firstS(q) - med(q, _.total.wallS))).sum, "s")
    System.err.println(s"[query_mix] first/median s: " + (Short ++ Similarity).map(q =>
      f"$q=${firstS(q)}%.2f/${med(q, _.total.wallS)}%.2f").mkString(" "))

    if (c.trace) {
      val tr = tracedRuns.view.mapValues(_.toSeq).toMap
      def sum(set: Seq[String], f: Execution => Double) = set.map(q => med(q, f, tr)).sum
      c.layer("short.build_s") = (sum(Short, _.build.wallS), "s")
      c.layer("short.build_jobs") = (sum(Short, _.build.jobs.toDouble), "count")
      c.layer("short.plan_ms") = (sum(Short, _.plan.wallS) * 1000.0, "ms")
      c.layer("short.exec_s") = (sum(Short, _.exec.wallS), "s")
      c.layer("short.exec_jobs") = (sum(Short, _.exec.jobs.toDouble), "count")
      c.layer("similarity.build_s") = (sum(Similarity, _.build.wallS), "s")
      c.layer("similarity.exec_s") = (sum(Similarity, _.exec.wallS), "s")
      c.layer("similarity.task_s") = (sum(Similarity, e => (e.total.taskMs / 1000.0)), "s")
      c.layer("similarity.shuffle_mb") = (sum(Similarity, _.total.shuffleBytes / 1e6), "MB")
      val all = Short ++ Similarity
      c.layer("trace.overhead_ratio") = (all.map(q => med(q, _.total.wallS, tr)).sum /
        all.map(q => med(q, _.total.wallS)).sum, "ratio")
      tables(c, dir)
    }
  }

  final case class Execution(build: Snap, plan: Snap, exec: Snap) {
    def total: Snap = build + plan + exec
  }

  /** `Tables` reads of every table the mix uses: schema resolution time
    * and the jobs it launches, per read. */
  def tables(c: Ctx, dir: String): Unit = {
    val ms = mutable.ArrayBuffer.empty[Double]
    var jobs = 0L
    for (_ <- 0 until 3; n <- QueryTables.Names) {
      val a = c.stats.snap(c.spark)
      c.tracer.span("Tables", n)(Tables(c.spark, dir, n).schema)
      val d = c.stats.snap(c.spark) - a
      ms += d.wallS * 1000.0
      jobs += d.jobs
    }
    c.layer("tables.read_ms") = (Stat.median(ms.toSeq), "ms")
    c.layer("tables.jobs_per_read") = (jobs.toDouble / ms.size, "count")
  }

  /** Order-insensitive digest of a result: row count and the sum of a hash
    * of each row's canonical text (doubles to 9 significant digits, so
    * partial-sum order cannot flip the last bit into a mismatch). */
  def digest(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString else String.format(java.util.Locale.ROOT, "%.9g", d)
      case f: Float => canon(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case b: Array[Byte] => Digest.hex(b)
      case other => other.toString
    }
    Digest.show(rows.length, rows.map(r => Digest.of(canon(r))).sum)
  }
}

/** Seeded tables with the testdata's schemas and value domains (TESTDATA.md), at
  * sf0.01 row counts; one parquet file per table, like the testdata. */
object QueryTables {
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")
  val Sf = 0.01
  private def n(base: Int): Int = math.round(base * Sf).toInt

  private val Day = 86400000L
  private val Epoch1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjs = Array("blue", "red", "hot", "small", "large", "green", "cold", "shiny")
  private val Nouns = Array("ring", "bolt", "widget", "gear", "gizmo", "nut", "plate", "spring")
  private val Words = Array("join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
    "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")
  private val Langs = Array("en", "en", "en", "zh", "es", "de", "fr")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  def write(c: Ctx, dir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val r = new SplittableRandom(c.seed * 1000003L + 7)
    // rows are drawn in order on this thread; the writes run concurrently
    val writes = mutable.ArrayBuffer.empty[Future[Unit]]
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      writes += Future(c.spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    def f(name: String, t: DataType) = StructField(name, t)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (s, i) => Row(i, s) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val nCust = n(150000)
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), Segments(r.nextInt(Segments.length)))))
    val nSupp = n(10000)
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))))
    val nPart = n(200000)
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${Adjs(r.nextInt(8))} ${Nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(Types.length)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val nOrders = n(1500000)
    val orderDay = Array.fill(nOrders)(r.nextInt(2404))
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong, "FOP".charAt(r.nextInt(3)).toString,
        money(r, 1000.0, 500000.0), new Timestamp(Epoch1995 + orderDay(i) * Day),
        Priorities(r.nextInt(Priorities.length)))))
    val lines = mutable.ArrayBuffer.empty[Row]
    for (o <- 0 until nOrders; ln <- 1 to 1 + r.nextInt(7))
      lines += Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln,
        (1 + r.nextInt(50)).toDouble, money(r, 900.0, 105000.0), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString, "FO".charAt(r.nextInt(2)).toString,
        new Timestamp(Epoch1995 + (orderDay(o) + 1 + r.nextInt(95)) * Day))
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      lines.toSeq)
    // 1 doc in 20 is a near-duplicate of an earlier one, tagged "dup"
    val nDocs = n(50000)
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until nDocs).foreach { i =>
      texts += (if (i > 10 && r.nextInt(20) == 0) {
        val w = texts(r.nextInt(i)).split(" ").toBuffer
        (0 until 2).foreach(_ => w(r.nextInt(w.length)) = Words(r.nextInt(Words.length)))
        (w :+ "dup").mkString(" ")
      } else Seq.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.length))).mkString(" "))
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Langs(r.nextInt(Langs.length)), s"src${i % 20}", t.length.toLong) }.toSeq)
    val nVec = n(50000)
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))),
      (0 until nVec).map { i =>
        val v = Array.fill(64)(r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
    writes.foreach(Await.result(_, Duration.Inf))
  }
}
