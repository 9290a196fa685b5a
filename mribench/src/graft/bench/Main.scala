package graft.bench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One workload in one JVM:
  * {{{
  * Main --workload mri_build|store_read|query_mix --seed N --seconds S
  *      --trace 0|1 --work DIR [--source-hash H] [--cpus C]
  * }}}
  * Prints an environment line, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics when
  * `--trace 0`, per-layer metrics when `--trace 1`). `--workload selftest`
  * runs the flipped-byte check instead. */
object Main {

  def main(argv: Array[String]): Unit = {
    val uptimeAtMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val t0 = System.nanoTime()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    args.get("pinned").foreach(p => Pinned.file = new File(p))
    val work = new File(args("work")).getAbsoluteFile
    val cpus = args.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    work.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"mribench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = uptimeAtMainS + (System.nanoTime() - t0) / 1e9

    if (workload == "selftest") {
      val ok = SelfTest.run(spark, work)
      spark.stop()
      sys.exit(if (ok) 0 else 1)
    }

    val c = new Ctx(spark, args("seed").toLong, args("seconds").toDouble,
      args("trace") == "1", work, cpus)
    val calibBefore = Env.calibrateMs()
    workload match {
      case "mri_build" => MriBuild.run(c)
      case "store_read" => StoreRead.run(c)
      case "query_mix" => QueryMix.run(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val calibAfter = Env.calibrateMs()
    val fixtureS = Stat.median(c.fixtureS.toSeq)
    System.err.println(f"[setup] session $sessionS%.2f s, fixture ${c.fixtureS.map(x => f"$x%.2f").mkString("/")} s, " +
      f"warm-up ${c.warmupS}%.2f s")
    val e2e = Seq(
      "setup_s" -> (sessionS + fixtureS + c.warmupS, "s"),
      "peak_rss_mb" -> (Env.peakRssMb, "MB"),
      "bulk_s" -> c.e2e("bulk_s"),
      "short_ms" -> c.e2e("short_ms"))
    val timedWall = c.timed.wallS
    val harness = Seq(
      "spark.jobs" -> (c.timed.jobs.toDouble, "count"),
      "spark.tasks" -> (c.timed.tasks.toDouble, "count"),
      "spark.task_s" -> (c.timed.taskMs / 1000.0, "s"),
      "spark.busy_ratio" -> (c.timed.taskMs / 1000.0 / (timedWall * cpus), "ratio"),
      "jvm.gc_s" -> (c.timed.gcMs / 1000.0, "s"),
      "env.steal_s" -> (c.timed.stealS, "s"),
      "setup.session_s" -> (sessionS, "s"),
      "setup.fixture_s" -> (fixtureS, "s"),
      "setup.warmup_s" -> (c.warmupS, "s"))
    val selfS = c.tracer.selfSeconds
    val measured = harness.toMap ++ c.layer ++
      Layers.selfLayer.map { case (n, l) => n -> (selfS.getOrElse(l, 0.0), "s") }
    val layers = Layers.all.map { case (n, unit) =>
      val (v, u) = measured.getOrElse(n, (0.0, unit))
      require(u == unit, s"metric $n reported in $u, declared in $unit")
      n -> (v, unit)
    }

    val env = Seq(
      "workload" -> Json.str(workload),
      "seed" -> c.seed.toString,
      "cpus" -> cpus.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm_flags" -> Env.jvmFlags.map(Json.str).mkString("[", ",", "]"),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(spark.version),
      "source_hash" -> Json.str(args.getOrElse("source-hash", "unknown")),
      "commit" -> Json.str(args.getOrElse("commit", "unknown")),
      "work_fs" -> Json.str(Env.fsType(work)),
      "tmpdir_fs" -> Json.str(Env.fsType(new File(System.getProperty("java.io.tmpdir")))),
      "timed_wall_s" -> Json.num(timedWall),
      "calib_ms_before" -> Json.num(calibBefore),
      "calib_ms_after" -> Json.num(calibAfter),
      "env.steal_s" -> Json.num(c.timed.stealS),
      "jvm.gc_s" -> Json.num(c.timed.gcMs / 1000.0),
      "trace" -> c.trace.toString)
    println("[env] " + Json.obj(env))
    if (c.trace) {
      val spans = new File(work, s"spans-$workload-${c.seed}.json")
      c.tracer.write(spans)
      println("[trace] self_s " +
        Json.obj(selfS.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    }
    val metrics = if (c.trace) layers else e2e
    println(Json.obj(Seq(
      "correct" -> (c.failed == 0 && c.attempted > 0).toString,
      "attempted" -> c.attempted.toString,
      "failed" -> c.failed.toString,
      "metrics" -> Json.metrics(collection.mutable.LinkedHashMap(metrics: _*)))))
    System.out.flush()
    spark.stop()
  }
}

/** The per-layer metrics every traced run reports, with their units, in
  * a fixed order. A layer a workload never enters reports 0. */
object Layers {
  private def named(unit: String, names: String*): Seq[(String, String)] = names.map(_ -> unit)

  val all: Seq[(String, String)] =
    named("count", "spark.jobs", "spark.tasks") ++
    named("s", "spark.task_s") ++ named("ratio", "spark.busy_ratio") ++
    named("s", "jvm.gc_s", "env.steal_s", "setup.session_s", "setup.fixture_s",
      "setup.warmup_s") ++
    named("ratio", "trace.overhead_ratio") ++
    named("s", "self.MriPipeline_s", "self.sinks_s", "self.functions_s", "self.Tables_s",
      "self.operators_s") ++
    named("1/s", "mri.slices_per_s") ++ named("ratio", "mri.store_bytes_per_payload_byte") ++
    named("s", "mri.plan_split_s", "mri.slices_s", "mri.records_s", "mri.write_s") ++
    named("ms", "degrade.slice_ms", "kernel.kspace_ms", "kernel.motion_ms", "kernel.bias_ms",
      "kernel.chi_noise_ms", "kernel.prescan_ms", "kernel.realign_ms", "kernel.sum_ms",
      "tile.ms_per_slice") ++
    named("ratio", "tile.kept_ratio") ++ named("MB/s", "npy.encode_mb_per_s") ++
    named("count", "lmdb.shards", "lmdb.pages") ++ named("MB/s", "lmdb.write_mb_per_s") ++
    named("us", "store.lookup_p50_us", "store.lookup_p99_us") ++
    named("MB/s", "store.scan_mb_per_s") ++
    named("count", "lmdb.tree_probes_per_lookup", "lmdb.shards_per_lookup") ++
    named("us", "lmdb.manifest_us", "keybloom.read_us", "lmdb.env_open_us", "lmdb.env_get_us") ++
    named("1/s", "lmdb.scan_rows_per_s") ++ named("MB/s", "npy.decode_mb_per_s") ++
    named("ms", "tables.read_ms") ++ named("count", "tables.jobs_per_read") ++
    named("s", "query.short_s", "query.similarity_s", "short.build_s") ++
    named("count", "short.build_jobs") ++ named("s", "short.exec_s") ++
    named("count", "short.exec_jobs") ++ named("ms", "short.plan_ms") ++
    named("s", "similarity.build_s", "similarity.exec_s", "similarity.task_s") ++ named("MB", "similarity.shuffle_mb") ++
    named("s", "cache.warm_s") ++
    named("s", (QueryMix.Short ++ QueryMix.Similarity).map(q => s"query.${q}_s"): _*)

  /** Self-time metrics and the span layer each one sums. */
  val selfLayer: Map[String, String] = Map(
    "self.MriPipeline_s" -> "MriPipeline", "self.sinks_s" -> "sinks",
    "self.functions_s" -> "functions", "self.Tables_s" -> "Tables",
    "self.operators_s" -> "operators")
}
