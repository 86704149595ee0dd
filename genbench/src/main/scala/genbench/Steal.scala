package genbench

import java.nio.file.{Files, Paths}

/** CPU time the hypervisor gave to other guests (Linux `/proc/stat`). A run
  * on a shared host logs it, so that a slow run can be told apart from a
  * slow program.
  */
object Steal {
  def read(): Option[Array[Long]] =
    scala.util.Try {
      val cpu = new String(Files.readAllBytes(Paths.get("/proc/stat")), "US-ASCII")
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      require(cpu.length >= 8)
      cpu
    }.toOption

  /** Share of all CPU time between two readings that was stolen. */
  def share(a: Array[Long], b: Array[Long]): Double = {
    val d = a.indices.map(i => b(i) - a(i))
    if (d.sum == 0) 0.0 else d(7).toDouble / d.sum
  }
}
