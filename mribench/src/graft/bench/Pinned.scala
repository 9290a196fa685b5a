package graft.bench

import java.io.File

/** Output digests pinned for the default seed (`pinned.tsv` beside the
  * benchmark: workload, seed, name, value). A digest without a pin is
  * printed so it can be pinned; with a pin, a mismatch is a failed check. */
object Pinned {
  @volatile var file: File = new File("mribench/pinned.tsv")

  private lazy val pins: Map[(String, Long, String), String] =
    if (!file.isFile) Map.empty
    else scala.io.Source.fromFile(file).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(w, s, n, v) => (w, s.toLong, n) -> v }.toMap

  def check(c: Ctx, workload: String, name: String, value: String): Unit =
    pins.get((workload, c.seed, name)) match {
      case Some(want) => c.check(value == want, s"$workload: $name is $value, pinned $want")
      case None => System.err.println(s"[pin] $workload\t${c.seed}\t$name\t$value")
    }
}
