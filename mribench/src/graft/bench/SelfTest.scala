package graft.bench

import java.io.{File, RandomAccessFile}

import org.apache.spark.sql.SparkSession

import graft.MriPipeline
import graft.sinks.LmdbStore

/** Shows that the output checks catch one flipped value byte: builds a
  * small store, checks it clean, flips one byte inside one stored `.npy`
  * value, and requires both the point-lookup check and the scan digest to
  * fail on it. */
object SelfTest {
  def run(spark: SparkSession, work: File): Boolean = {
    import spark.implicits._
    val store = new File(work, "selftest/lmdb")
    Fs.deleteTree(store)
    val recs = StoreRead.records(spark, 1L, 0, 40, 2)
    MriPipeline.writeStore(recs, store.getPath, format = "lmdb")
    val expected = recs.map(r => (r.key, StoreRead.crc(r.value))).collect().toMap
    val digest = recs.map(r => StoreRead.mix(r.key, r.value)).reduce(_ + _)

    def lookupsOk: Int = expected.count { case (k, want) =>
      StoreRead.hitOk(LmdbStore.get(store.getPath, k), want) }
    def scanOk: Boolean = StoreRead.scan(spark, store)._3 == digest

    val cleanOk = lookupsOk == expected.size && scanOk
    flipValueByte(new File(store, "shard-00000/data.mdb"))
    val dirtyLookups = lookupsOk
    val dirtyScan = scanOk
    println(s"[selftest] clean store passes: $cleanOk; after one flipped value byte: " +
      s"${expected.size - dirtyLookups} lookup(s) fail, scan digest " +
      (if (dirtyScan) "passes" else "fails"))
    cleanOk && dirtyLookups == expected.size - 1 && !dirtyScan
  }

  /** Flips one byte of the first `.npy` payload in an LMDB data file,
    * past its 128-byte header, so only a value changes. */
  def flipValueByte(f: File): Unit = {
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val magic = Array(0x93.toByte, 'N'.toByte, 'U'.toByte, 'M'.toByte, 'P'.toByte, 'Y'.toByte)
    val at = bytes.indices.find(i => bytes.startsWith(magic, i))
      .getOrElse(throw new IllegalStateException(s"no .npy value in $f"))
    val raf = new RandomAccessFile(f, "rw")
    try { raf.seek(at + 200L); val b = raf.read(); raf.seek(at + 200L); raf.write(b ^ 0x01) }
    finally raf.close()
  }
}
