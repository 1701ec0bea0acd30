package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Epoch milliseconds with sub-millisecond resolution, on the same time base
  * as Spark's listener-event timestamps (`System.currentTimeMillis`).
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def now(): Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** Record lines kept in memory and written once, when the run ends, so that
  * file I/O never lands inside a timed window. Each record is one JSON
  * object: `k` names its kind, and the pairs become its fields (`None` is
  * written as null).
  */
final class Records {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def add(kind: String, kv: (String, Any)*): Unit =
    buf.add(Records.json.writeValueAsString(Map("k" -> kind) ++ kv))
  def writeTo(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try buf.forEach { l => w.write(l); w.write('\n') } finally w.close()
  }
}

object Records {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
}
