package graft.core

import java.nio.file.{Files, Paths}

/** Reaped child CPU of this JVM: what the processes it forked and waited
  * for (Hadoop's `Shell` commands) cost. */
object ChildCpu {
  private val stat = Paths.get("/proc/self/stat")

  def observable: Boolean = Files.exists(stat)

  /** `/proc/self/stat` fields 16-17 (cutime, cstime), in clock ticks of
    * 10 ms, as ms. */
  def ms(): Long = {
    val text = new String(Files.readAllBytes(stat), "UTF-8")
    val fields = text.substring(text.lastIndexOf(')') + 2).split(" ")
    (fields(13).toLong + fields(14).toLong) * 10L // field n sits at index n - 3
  }

  /** The least child CPU (ms) of three runs of `body`: an unrelated fork
    * elsewhere in the JVM during one run cannot fail a zero-fork check. */
  def bestOfThree(body: => Unit): Long =
    (1 to 3).map { _ =>
      val before = ms()
      body
      ms() - before
    }.min
}
