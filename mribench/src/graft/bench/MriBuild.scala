package graft.bench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, lit, typedLit}
import org.apache.spark.storage.StorageLevel

import graft.MriPipeline
import graft.functions.{Degrade, Image, Npy, Rng}
import graft.model.KvRecord
import graft.sinks.LmdbStore
import graft.sources.Nifti

/** `mri_build`: the paper's own job through `MriPipeline` — NIfTI volumes
  * → oriented slices → header-only split plan → 3T degradation, tiling and
  * the dark filter → a sharded LMDB store. The inputs are synthetic head
  * phantoms with the reference flagship's non-power-of-two aspect,
  * (960, 840, 640) / 6, and fewer volumes than cores. One timed unit is one
  * full build into a fresh store. */
object MriBuild {
  val Dims: Array[Int] = Array(160, 140, 106)
  val Volumes = 2
  val WarmDims: Array[Int] = Array(64, 56, 40)
  val Preset = "3tFlash"
  val Crop = 128
  val Step = 64
  val SplitSeed = 42L
  val DarkThr: Double = 20.0 / 255.0
  val DarkPct = 0.7
  /** Slices per build whose records are recomputed without Spark. */
  val Sampled = 6
  /** Slices the traced run times kernel by kernel. */
  val KernelSlices = 8

  def run(c: Ctx): Unit = {
    val in = c.dir("mri/in")
    val warm = c.dir("mri/warm")
    c.fixture {
      (0 until Volumes).foreach(v => writeVolume(new File(in, f"vol$v%02d.nii"), c.seed, v, Dims))
      writeVolume(new File(warm, "warm00.nii"), c.seed, 99, WarmDims)
      Fs.syncTree(c.dir("mri"))
    }
    c.warmup {
      (0 until 2).foreach(i => build(c, warm.getPath, new File(c.work, s"mri/warm-store-$i").getPath))
    }

    val e0 = System.nanoTime()
    val exp = Expected(in, c.seed)
    System.err.println(f"[mri_build] Spark-free expected pass ${(System.nanoTime() - e0) / 1e9}%.1f s")
    val builds = mutable.ArrayBuffer.empty[Double]
    var last: File = null
    while (builds.isEmpty || builds.sum + Stat.median(builds.toSeq) <= c.seconds) {
      val out = new File(c.work, s"mri/store-${builds.length}")
      // traced runs time this build untraced: it is the base of the overhead ratio
      val (_, d) = c.unit(build(c, in.getPath, out.getPath))
      builds += d.wallS
      val v0 = System.nanoTime()
      verify(c, in, out, exp)
      System.err.println(f"[mri_build] build ${d.wallS}%.2f s, checks ${(System.nanoTime() - v0) / 1e9}%.1f s")
      if (last != null) Fs.deleteTree(last)
      last = out
    }
    val buildS = Stat.median(builds.toSeq)
    val payload = exp.counts.values.map(_._2).sum.toDouble
    c.e2e("bulk_s") = (buildS, "s")
    c.e2e("short_ms") = (buildS * 1000.0 / exp.slices, "ms")
    c.layer("mri.slices_per_s") = (exp.slices / buildS, "1/s")
    c.layer("mri.store_bytes_per_payload_byte") = (Fs.treeBytes(last) / payload, "ratio")
    val audit = LmdbStore.auditAll(last.getPath)
    c.layer("lmdb.shards") = (audit.size.toDouble, "count")
    c.layer("lmdb.pages") = (audit.map { case (_, s) =>
      s.branchPages + s.leafPages + s.overflowPages }.sum.toDouble, "count")
    if (c.trace) traced(c, in, exp, buildS, payload)
    // the run wrapper audits the last store's shards with tools/check_lmdb.py
    val keep = new File(c.work, "mri/last-store")
    require(last.renameTo(keep), s"rename $last -> $keep")
  }

  /** The timed unit: one full build through the public pipeline API. */
  def build(c: Ctx, in: String, out: String): Unit = {
    val sl = MriPipeline.slices(c.spark, in)
    val plan = MriPipeline.planSplitFromHeaders(c.spark, in, seed = SplitSeed)
    val rec = MriPipeline.degradeToRecords(sl, plan, Preset, crop = Crop, step = Step, seed = c.seed)
    MriPipeline.writeStore(rec, out, format = "lmdb")
  }

  // ------------------------------------------------------------- fixture

  /** A seeded head phantom: scalp shell, brain with a folded texture,
    * two ventricles, a few lesions, and Rician-like background noise. */
  def phantom(seed: Long, v: Int, d: Array[Int]): Array[Float] = {
    val r = new SplittableRandom(seed * 1000003L + v)
    def jit(x: Double, rel: Double) = x * (1.0 + rel * (r.nextDouble() * 2 - 1))
    val (d0, d1, d2) = (d(0), d(1), d(2))
    val (cx, cy, cz) = (jit(d0 / 2.0, 0.03), jit(d1 / 2.0, 0.03), jit(d2 / 2.0, 0.03))
    val (rx, ry, rz) = (jit(0.40 * d0, 0.05), jit(0.42 * d1, 0.05), jit(0.44 * d2, 0.05))
    val fold = jit(0.11, 0.2)
    val lesions = Array.fill(5)((r.nextDouble() * 0.6 + 0.2, r.nextDouble() * 0.6 + 0.2,
      r.nextDouble() * 0.6 + 0.2, jit(0.05, 0.4), if (r.nextBoolean()) 90.0 else -70.0))
    val vol = new Array[Float](d0 * d1 * d2)
    var z = 0
    while (z < d2) {
      var y = 0
      while (y < d1) {
        var x = 0
        while (x < d0) {
          val ex = (x - cx) / rx; val ey = (y - cy) / ry; val ez = (z - cz) / rz
          val e = ex * ex + ey * ey + ez * ez
          val value =
            if (e > 1.0) math.abs(r.nextGaussian() * 4.0)
            else if (e > 0.80) 380.0 + r.nextGaussian() * 15.0
            else {
              var s = 210.0 + 35.0 * math.sin(x * fold) * math.cos(y * fold * 0.7) *
                math.sin(z * fold * 0.5 + 1.0)
              val vx = math.abs(ex) - 0.15; val vy = ey * 1.6; val vz = ez * 1.2
              if (vx * vx / 0.01 + vy * vy / 0.2 + vz * vz / 0.2 < 1.0) s = 60.0
              var k = 0
              while (k < lesions.length) {
                val (lx, ly, lz, lr, li) = lesions(k)
                val qx = x / d0.toDouble - lx; val qy = y / d1.toDouble - ly
                val qz = z / d2.toDouble - lz
                if (qx * qx + qy * qy + qz * qz < lr * lr) s += li
                k += 1
              }
              s + r.nextGaussian() * 12.0
            }
          vol(x + y * d0 + z * d0 * d1) = value.toFloat
          x += 1
        }
        y += 1
      }
      z += 1
    }
    vol
  }

  def writeVolume(f: File, seed: Long, v: Int, d: Array[Int]): Unit = {
    java.nio.file.Files.write(f.toPath, Nifti.encode(phantom(seed, v, d), d, Array(1.0, 1.0, 1.0)))
    ()
  }

  // ---------------------------------------------------------- expectations

  /** What a correct build must contain, computed without Spark on one
    * thread: every slice's split label and (split, tier) counts and bytes
    * (the dark filter only needs the HR tiles), plus the full records of
    * a seeded sample of slices, degradation included. */
  final case class Expected(labels: Map[String, String],
      counts: Map[(String, String), (Long, Long)], sample: Map[String, String], slices: Int,
      tiles: Long)

  private val LrTier = s"LRx${Degrade.preset(Preset).fatorReducao}"

  def splitOf(sliceId: String, seed: Long): String = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    // xxhash64(sliceId, lit(seed)) hashes both children in turn from seed 42
    val h = XxHash64Function.hash(seed, LongType,
      XxHash64Function.hash(UTF8String.fromString(sliceId), StringType, 42L))
    val b = ((h % 1000L) + 1000L) % 1000L
    if (b < 950) "train" else if (b < 980) "val" else "test"
  }

  /** Every oriented slice of every volume in `in`, normalized as the
    * pipeline does: (base, orient, idx, pixels, h, w). */
  def slicesOf(in: File): Iterator[(String, String, Int, Array[Float], Int, Int)] =
    in.listFiles().filter(_.getName.endsWith(".nii")).sortBy(_.getName).iterator.flatMap { f =>
      val (hdr, vol) = Nifti.readVolume(java.nio.file.Files.readAllBytes(f.toPath))
      // the pipeline's 0.5/99.5 robust normalize, with a primitive sort
      val clean = vol.filter(!_.isNaN)
      java.util.Arrays.sort(clean)
      val (norm, _, _) = Image.normalizeWithCuts(vol,
        Image.percentileSorted(clean, 0.5), Image.percentileSorted(clean, 99.5))
      val base = f.getName.stripSuffix(".nii")
      Nifti.Orientations.iterator.flatMap { o =>
        (0 until Nifti.sliceCount(hdr.dims, o)).iterator.map { i =>
          val (px, h, w) = Nifti.sliceOf(norm, hdr.dims, o, i)
          (base, o, i, px, h, w)
        }
      }
    }

  def sliceId(base: String, o: String, i: Int): String = f"$base%s__$o%s__slice_$i%03d"

  /** The records `degradeToRecords` emits for one slice, written out again
    * here so the check does not share the pipeline's code path. */
  def records(base: String, o: String, i: Int, px: Array[Float], h: Int, w: Int,
      split: String, seed: Long): Seq[(String, Array[Byte])] =
    tile(sliceId(base, o, i), px, h, w, split,
      Degrade.degradePreset(px, h, w, Preset, Rng.sliceSeed(base, o, i, seed)))

  /** Tiling, the dark filter and `.npy` encoding of one degraded slice. */
  def tile(id: String, px: Array[Float], h: Int, w: Int, split: String,
      r: Degrade.Result): Seq[(String, Array[Byte])] = {
    val scale = Degrade.preset(Preset).fatorReducao
    val (hs, ws) = Image.makeCropSpaces(h, w, Crop, Step, 0)
    val out = mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var s = 1
    for (y <- hs; x <- ws) {
      val hr = Image.extractPatch(px, h, w, y, x, Crop)
      if (!Image.patchIsDark(hr, DarkThr, DarkPct)) {
        val key = f"$id%s__s$s%03d"
        out += (s"$split/HR/$key" -> Npy.encode(hr, Seq(Crop, Crop)))
        val lc = math.max(1, Crop / scale)
        val lr = Image.extractPatch(r.lr, r.lrH, r.lrW,
          math.min(y / scale, math.max(0, r.lrH - lc)), math.min(x / scale, math.max(0, r.lrW - lc)), lc)
        out += (s"$split/$LrTier/$key" -> Npy.encode(lr, Seq(lc, lc)))
      }
      s += 1
    }
    out.toSeq
  }

  /** Slice ids of every volume in `in`, from the 352-byte headers alone. */
  def sliceIds(in: File): Vector[String] =
    in.listFiles().filter(_.getName.endsWith(".nii")).sortBy(_.getName).toVector.flatMap { f =>
      val raf = new java.io.RandomAccessFile(f, "r")
      val head = new Array[Byte](352)
      try raf.readFully(head) finally raf.close()
      val dims = Nifti.parseHeader(head).dims
      for (o <- Nifti.Orientations; i <- 0 until Nifti.sliceCount(dims, o))
        yield sliceId(f.getName.stripSuffix(".nii"), o, i)
    }

  object Expected {
    def apply(in: File, seed: Long): Expected = {
      val all = sliceIds(in)
      val rnd = new SplittableRandom(seed + 17)
      val pick = Iterator.continually(all(rnd.nextInt(all.size))).distinct.take(Sampled).toSet
      val labels = mutable.HashMap.empty[String, String]
      val counts = mutable.HashMap.empty[(String, String), (Long, Long)].withDefaultValue((0L, 0L))
      val sample = mutable.HashMap.empty[String, String]
      var tiles = 0L
      val hrBytes = Npy.encode(new Array[Float](Crop * Crop), Seq(Crop, Crop)).length.toLong
      val lc = Crop / Degrade.preset(Preset).fatorReducao
      val lrBytes = Npy.encode(new Array[Float](lc * lc), Seq(lc, lc)).length.toLong
      slicesOf(in).foreach { case (b, o, i, px, h, w) =>
        val id = sliceId(b, o, i)
        val split = splitOf(id, SplitSeed)
        labels(id) = split
        val (hs, ws) = Image.makeCropSpaces(h, w, Crop, Step, 0)
        tiles += hs.length * ws.length
        val kept = (for (y <- hs; x <- ws)
          yield !Image.patchIsDark(Image.extractPatch(px, h, w, y, x, Crop), DarkThr, DarkPct)).count(identity)
        val (nh, bh) = counts((split, "HR")); counts((split, "HR")) = (nh + kept, bh + kept * hrBytes)
        val (nl, bl) = counts((split, LrTier)); counts((split, LrTier)) = (nl + kept, bl + kept * lrBytes)
        if (pick(id)) records(b, o, i, px, h, w, split, seed).foreach { case (k, v) =>
          sample(k) = Digest.hex(Digest.md5(v)) }
      }
      Expected(labels.toMap, counts.toMap, sample.toMap, all.size, tiles)
    }
  }

  /** Checks one built store; each failed check counts as a failed unit. */
  def verify(c: Ctx, in: File, out: File, exp: Expected): Unit = {
    val spark = c.spark
    import spark.implicits._
    val sampleIds = spark.sparkContext.broadcast(exp.sample.keySet.map(sliceIdOfKey))
    val recs = LmdbStore.read(spark, out.getPath).select(col("key"), col("value"))
    val parts = recs.as[(String, Array[Byte])].mapPartitions { it =>
      var n = 0L; var sum = 0L
      val picked = mutable.ArrayBuffer.empty[(String, String)]
      it.foreach { case (k, v) =>
        n += 1; sum += Digest.record(k, v)
        if (sampleIds.value(sliceIdOfKey(k))) picked += (k -> Digest.hex(Digest.md5(v)))
      }
      Iterator((n, sum, picked.toSeq))
    }.collect()
    val n = parts.map(_._1).sum
    val digest = Digest.show(n, parts.map(_._2).sum)
    val picked = parts.flatMap(_._3).toMap
    c.check(picked == exp.sample,
      s"mri_build: sampled slices' records differ from the Spark-free recompute " +
        s"(${picked.size} vs ${exp.sample.size} records)")
    Pinned.check(c, "mri_build", "digest", digest)

    val stats = MriPipeline.runStats(recs
      .withColumn("shape", typedLit(Seq(0))).withColumn("dtype", lit("float32")).as[KvRecord])
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    c.check(stats == exp.counts.filter(_._2._1 > 0),
      s"mri_build: runStats $stats != expected ${exp.counts}")

    val plan = MriPipeline.planSplitFromHeaders(spark, in.getPath, seed = SplitSeed)
      .collect().map(l => l.sliceId -> l.split).toMap
    c.check(plan == exp.labels, "mri_build: planSplitFromHeaders labels differ from the hash-cut")
  }

  def sliceIdOfKey(k: String): String = k.split('/')(2).replaceAll("__s\\d+$", "")

  // ---------------------------------------------------------------- traced

  /** Per-layer numbers: a build materialized stage by stage, and the
    * Degrade kernels replayed one by one on one thread. */
  def traced(c: Ctx, in: File, exp: Expected, untracedBuildS: Double, payload: Double): Unit = {
    val t = c.tracer
    val spark = c.spark
    val out = new File(c.work, "mri/staged-store")
    val t0 = System.nanoTime()
    def timedSpan(layer: String, name: String)(f: => Unit): Double = {
      val a = System.nanoTime(); t.span(layer, name)(f); (System.nanoTime() - a) / 1e9
    }
    val sl = MriPipeline.slices(spark, in.getPath).persist(StorageLevel.MEMORY_AND_DISK)
    val slicesS = timedSpan("MriPipeline", "slices")(sl.count())
    val plan = MriPipeline.planSplitFromHeaders(spark, in.getPath, seed = SplitSeed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val planS = timedSpan("MriPipeline", "planSplitFromHeaders")(plan.count())
    val rec = MriPipeline.degradeToRecords(sl, plan, Preset, crop = Crop, step = Step, seed = c.seed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val recS = timedSpan("functions", "degradeToRecords")(rec.count())
    val writeS = timedSpan("sinks", "writeStore")(MriPipeline.writeStore(rec, out.getPath, format = "lmdb"))
    val stagedS = (System.nanoTime() - t0) / 1e9
    Seq(sl, plan, rec).foreach(_.unpersist(blocking = true))
    Fs.deleteTree(out)
    c.layer("mri.slices_s") = (slicesS, "s")
    c.layer("mri.plan_split_s") = (planS, "s")
    c.layer("mri.records_s") = (recS, "s")
    c.layer("mri.write_s") = (writeS, "s")
    c.layer("lmdb.write_mb_per_s") = (payload / 1e6 / writeS, "MB/s")
    c.layer("trace.overhead_ratio") = (stagedS / untracedBuildS, "ratio")
    kernels(c, in)
    val kept = exp.counts.collect { case ((_, "HR"), (n, _)) => n }.sum
    c.layer("tile.kept_ratio") = (kept.toDouble / exp.tiles, "ratio")
  }

  /** The stages of `Degrade.degrade` for the 3tFlash preset, called one by
    * one on `KernelSlices` slices; each figure is the mean over slices of
    * the median of three reps. */
  def kernels(c: Ctx, in: File): Unit = {
    val t = c.tracer
    val p = Degrade.preset(Preset)
    val f = 1.0 / p.fatorReducao
    val rnd = new SplittableRandom(c.seed + 29)
    val all = slicesOf(in).toVector
    val picked = Iterator.continually(all(rnd.nextInt(all.size))).take(KernelSlices).toSeq
    val ms = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def time[T](name: String, reps: Int = 3)(f: => T): T = {
      var r: T = null.asInstanceOf[T]
      val samples = (0 until reps).map { _ =>
        val a = System.nanoTime(); r = t.span("functions", name)(f); (System.nanoTime() - a) / 1e6
      }
      ms.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Stat.median(samples)
      r
    }
    picked.foreach { case (b, o, i, px, h, w) =>
      val seed = Rng.sliceSeed(b, o, i, c.seed)
      val degraded = time("degrade.slice_ms")(Degrade.degradePreset(px, h, w, Preset, seed))
      val (res, rh, rw) = time("kernel.kspace_ms")(
        Image.kspaceLowpass(px, h, w, f, f, p.windowType, keepSize = false))
      val art0 = time("kernel.motion_ms")(
        Image.applyMotion(res, rh, rw, p.motionMaxShift, p.motionLineJitter, new Rng(seed)))
      val art = time("kernel.bias_ms")(
        Image.applyBiasField(art0, rh, rw, p.biasStrength, p.biasScaleRel, new Rng(seed + 1)))
      val mean = art.map(_.toDouble).sum / art.length
      val snr = math.max(1.0, Image.snrTargetFromField(p.snr7tEstimate,
        Image.parseFieldStrength(p.alvoCampo), p.alphaSnr, 1.0))
      val sigma = math.max(1e-8, mean / (snr * math.sqrt(p.nc.toDouble)))
      val (noisy, coils) = time("kernel.chi_noise_ms") {
        val coils = Image.synthCoilSensitivities(rh, rw, p.nc, p.coilSigmaRel, p.coilRadius)
        (Image.addChiNoiseRss(art, rh, rw, coils, p.nc, sigma, new Rng(seed + 2)), coils)
      }
      val pre = time("kernel.prescan_ms")(
        Image.prescanNormalize(noisy, rh, rw, coils, p.nc, p.prescanBeta, p.prescanBlurRel))
      time("kernel.realign_ms")(Image.realignIntensity(pre, art))
      time("tile.ms_per_slice")(tile(sliceId(b, o, i), px, h, w, "train", degraded))
      val hr = Image.extractPatch(px, h, w, 0, 0, Crop)
      val reps = 50
      val encMs = (0 until 3).map { _ =>
        val a = System.nanoTime()
        (0 until reps).foreach(_ => Npy.encode(hr, Seq(Crop, Crop)))
        (System.nanoTime() - a) / 1e6
      }
      ms.getOrElseUpdate("npy.encode_ms", mutable.ArrayBuffer.empty) += Stat.median(encMs) / reps
    }
    def mean(n: String) = ms.get(n).map(v => v.sum / v.size).getOrElse(0.0)
    Seq("degrade.slice_ms", "tile.ms_per_slice", "kernel.kspace_ms", "kernel.motion_ms", "kernel.bias_ms",
      "kernel.chi_noise_ms", "kernel.prescan_ms", "kernel.realign_ms")
      .foreach(n => c.layer(n) = (mean(n), "ms"))
    c.layer("kernel.sum_ms") = (Seq("kspace", "motion", "bias", "chi_noise", "prescan", "realign")
      .map(k => mean(s"kernel.${k}_ms")).sum, "ms")
    val patchMb = (Crop * Crop * 4 + 128) / 1e6
    if (mean("npy.encode_ms") > 0)
      c.layer("npy.encode_mb_per_s") = (patchMb / (mean("npy.encode_ms") / 1000.0), "MB/s")
  }
}
