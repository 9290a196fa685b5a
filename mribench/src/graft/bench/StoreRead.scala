package graft.bench

import java.io.File
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.MriPipeline
import graft.functions.Npy
import graft.model.KvRecord
import graft.sinks.{KeyBloom, Lmdb, LmdbStore}

/** `store_read`: a trainer reading a dataset store back. The store is
  * built untimed in the shape a `streamIngest` store takes — one
  * `writeStore(lmdb)` base plus several `LmdbStore.appendBatch` batches,
  * each adding shards — holding HR/LR `.npy` patch pairs. The timed phase
  * alternates closed-loop `LmdbStore.get` point lookups from one thread,
  * uniform over the keys with a fixed share of absent ones, with
  * whole-store epochs (`LmdbStore.read` plus `Npy.decode` of every value). */
object StoreRead {
  val BasePairs = 600
  val BaseShards = 4
  val Batches = 4
  val BatchPairs = 100
  val BatchShards = 2
  val MissShare = 0.1
  val Crop = 128
  val Lr = 64
  /** Lookups between clock reads, and the lookup time of one round. */
  val Batch = 200
  val RoundLookupS = 0.25

  def key(pair: Long, tier: String): String = {
    val split = pair % 50 match { case 0 => "test"; case 1 => "val"; case _ => "train" }
    f"$split/$tier/vol${pair / 400}%02d__axial__slice_${pair / 4 % 100}%03d__s${pair % 4 + 1}%03d"
  }

  /** The pair's two records; values are seeded noise patches. */
  def pairRecords(seed: Long, pair: Long): Seq[KvRecord] = {
    val r = new SplittableRandom(seed * 7919L + pair)
    Seq(("HR", Crop), ("LRx2", Lr)).map { case (tier, n) =>
      val px = Array.fill(n * n)(r.nextFloat())
      KvRecord(key(pair, tier), Npy.encode(px, Seq(n, n)), Seq(n, n, 1), "float32")
    }
  }

  /** Cheap per-value fingerprint: CRC32C (catches every single-byte
    * change) and the length. */
  def crc(v: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32C
    c.update(v, 0, v.length)
    (c.getValue << 32) ^ v.length
  }

  def mix(k: String, v: Array[Byte]): Long = {
    var h = crc(v) ^ (scala.util.hashing.MurmurHash3.stringHash(k).toLong << 16)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }

  def hitOk(r: Option[Array[Byte]], want: Long): Boolean = r.exists(v => crc(v) == want)

  /** One trainer epoch: every record read back and its value decoded.
    * Returns (records, decoded bytes, digest). */
  def scan(spark: SparkSession, store: File): (Long, Long, Long) = {
    import spark.implicits._
    LmdbStore.read(spark, store.getPath).select("key", "value").as[(String, Array[Byte])]
      .mapPartitions { it =>
        var n = 0L; var bytes = 0L; var dig = 0L
        it.foreach { case (k, v) =>
          val (px, _) = Npy.decode(v)
          n += 1; bytes += px.length * 4L; dig += mix(k, v)
        }
        Iterator((n, bytes, dig))
      }.collect().reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
  }

  def records(c: Ctx, lo: Long, hi: Long, parts: Int): Dataset[KvRecord] =
    records(c.spark, c.seed, lo, hi, parts)

  def records(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int): Dataset[KvRecord] = {
    import spark.implicits._
    spark.range(lo, hi, 1, parts).as[Long].flatMap(p => pairRecords(seed, p))
  }

  def kv(ds: Dataset[KvRecord]): DataFrame = ds.toDF().select("key", "value")

  def build(c: Ctx, store: File): Unit = {
    Fs.deleteTree(store)
    MriPipeline.writeStore(records(c, 0, BasePairs, BaseShards), store.getPath, format = "lmdb")
    (0 until Batches).foreach { b =>
      val lo = BasePairs + b * BatchPairs
      LmdbStore.appendBatch(kv(records(c, lo, lo + BatchPairs, BatchShards)), store.getPath, b.toLong)
    }
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val store = new File(c.work, "store/lmdb")
    c.fixture { build(c, store); Fs.syncTree(store) }
    val pairs = BasePairs + Batches * BatchPairs
    val facts = records(c, 0, pairs, c.cpus)
      .map(r => (r.key, crc(r.value), mix(r.key, r.value), r.value.length.toLong)).collect()
    val expected: Map[String, Long] = facts.map(f => f._1 -> f._2).toMap
    val expectedDigest = facts.map(_._3).sum
    val payload = facts.map(_._4).sum
    val present = facts.map(_._1).sorted
    val absent = present.map(_.replaceAll("__s(\\d+)$", "__s9$1"))
    val shards = LmdbStore.auditAll(store.getPath)
    System.err.println(f"[fixture] store_read: ${present.length} records, ${shards.size} shards, " +
      f"${Fs.treeBytes(store) / 1e6}%.1f MB on disk, ${payload / 1e6}%.1f MB payload")

    val rnd = new SplittableRandom(c.seed + 5)
    val t = c.tracer
    val lat = mutable.ArrayBuffer.empty[Double]
    val tracedLat = mutable.ArrayBuffer.empty[Double]
    def lookups(n: Int, keep: Boolean, traced: Boolean): Unit = {
      var i = 0
      while (i < n) {
        val miss = rnd.nextDouble() < MissShare
        val k = if (miss) absent(rnd.nextInt(absent.length)) else present(rnd.nextInt(present.length))
        val a = System.nanoTime()
        val r = if (traced) t.span("sinks", "LmdbStore.get")(LmdbStore.get(store.getPath, k))
          else LmdbStore.get(store.getPath, k)
        val us = (System.nanoTime() - a) / 1e3
        if (keep) {
          (if (traced) tracedLat else lat) += us
          if (miss) c.check(r.isEmpty, s"store_read: absent key $k returned a value")
          else c.check(hitOk(r, expected(k)), s"store_read: wrong bytes for $k")
        }
        i += 1
      }
    }
    def epoch(): (Long, Long, Long) = t.span("sinks", "LmdbStore.read")(scan(c.spark, store))
    c.warmup {
      lookups(20000, keep = false, traced = false)
      (0 until 10).foreach(_ => epoch())
    }

    // lookups and epochs alternate in short rounds, so both parts sample
    // the same stretch of machine time instead of one half each
    val probes0 = LmdbStore.treeProbes.get
    val epochs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var round = 0
    while (round < 3 || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      c.unit {
        val r0 = System.nanoTime()
        while ((System.nanoTime() - r0) / 1e9 < RoundLookupS)
          lookups(Batch, keep = true, traced = c.trace && round % 2 == 1)
      }
      val ((n, bytes, dig), d) = c.unit(epoch())
      epochs += d.wallS
      c.check(n == present.length && dig == expectedDigest,
        s"store_read: scan digest ${Digest.show(n, dig)} != ${Digest.show(present.length, expectedDigest)}")
      c.check(bytes == pairs.toLong * (Crop * Crop + Lr * Lr) * 4, s"store_read: decoded $bytes bytes")
      round += 1
    }
    val probes = LmdbStore.treeProbes.get - probes0
    Pinned.check(c, "store_read", "digest", Digest.show(present.length, expectedDigest))

    val epochS = Stat.median(epochs.toSeq)
    val allLat = lat ++ tracedLat
    c.e2e("bulk_s") = (epochS, "s")
    c.e2e("short_ms") = (Stat.median(lat.toSeq) / 1000.0, "ms")
    c.layer("store.lookup_p50_us") = (Stat.median(allLat.toSeq), "us")
    c.layer("store.lookup_p99_us") = (Stat.quantile(allLat.toSeq, 0.99), "us")
    c.layer("store.scan_mb_per_s") = (payload / 1e6 / epochS, "MB/s")
    c.layer("lmdb.scan_rows_per_s") = (present.length / epochS, "1/s")
    c.layer("lmdb.tree_probes_per_lookup") = (probes.toDouble / allLat.size, "count")
    c.layer("lmdb.shards") = (shards.size.toDouble, "count")
    c.layer("lmdb.pages") = (shards.map { case (_, s) =>
      s.branchPages + s.leafPages + s.overflowPages }.sum.toDouble, "count")
    System.err.println(s"[store_read] ${allLat.size} lookups, ${epochs.size} epochs")
    if (c.trace) {
      c.layer("trace.overhead_ratio") = (Stat.median(tracedLat.toSeq) / Stat.median(lat.toSeq), "ratio")
      layers(c, store, present, absent)
    }
  }

  /** The steps of one `get`, replayed from the benchmark on a key sample:
    * manifest read, each shard's Bloom sidecar, env open, tree descent. */
  def layers(c: Ctx, store: File, present: Array[String], absent: Array[String]): Unit = {
    val t = c.tracer
    val rnd = new SplittableRandom(c.seed + 11)
    val n = 2000
    val manifest = new File(store, "_MANIFEST")
    def shardDirs(): Seq[File] =
      new String(java.nio.file.Files.readAllBytes(manifest.toPath), StandardCharsets.UTF_8)
        .split('\n').filter(_.matches("shard-\\d+")).map(new File(store, _)).toSeq
    def us[T](name: String)(f: => T): (T, Double) = {
      val a = System.nanoTime()
      val r = t.span("sinks", name)(f)
      (r, (System.nanoTime() - a) / 1e3)
    }
    val man, bloom, open, get = mutable.ArrayBuffer.empty[Double]
    var consulted = 0L
    (0 until n).foreach { _ =>
      val k = if (rnd.nextDouble() < MissShare) absent(rnd.nextInt(absent.length))
        else present(rnd.nextInt(present.length))
      val kb = k.getBytes(StandardCharsets.US_ASCII)
      val (dirs, m) = us("manifest")(shardDirs())
      man += m
      var found = false
      dirs.reverseIterator.takeWhile(_ => !found).foreach { d =>
        consulted += 1
        val (b, bu) = us("KeyBloom.read")(KeyBloom.read(d))
        bloom += bu
        if (b.forall(_.mightContain(kb))) {
          val (env, ou) = us("Lmdb.Env")(new Lmdb.Env(d))
          open += ou
          try {
            val (r, gu) = us("Env.get")(env.get(kb))
            get += gu
            found = r.isDefined
          } finally env.close()
        }
      }
    }
    c.layer("lmdb.manifest_us") = (Stat.median(man.toSeq), "us")
    c.layer("keybloom.read_us") = (Stat.median(bloom.toSeq), "us")
    c.layer("lmdb.env_open_us") = (Stat.median(open.toSeq), "us")
    c.layer("lmdb.env_get_us") = (Stat.median(get.toSeq), "us")
    c.layer("lmdb.shards_per_lookup") = (consulted.toDouble / n, "count")
    val values = present.take(200).map(k => LmdbStore.get(store.getPath, k).get)
    val mb = values.map(_.length.toLong).sum / 1e6
    val decS = (0 until 3).map { _ =>
      val a = System.nanoTime()
      t.span("functions", "Npy.decode")(values.foreach(v => Npy.decode(v)))
      (System.nanoTime() - a) / 1e9
    }
    c.layer("npy.decode_mb_per_s") = (mb / Stat.median(decS), "MB/s")
  }
}
