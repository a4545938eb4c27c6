package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Minimal JSON rendering for the harness's raw-measurement files
  * (maps render as objects, sequences and tuples as arrays).
  */
object Out {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => graft.Json.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.Json.quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case p: Product => render(p.productIterator.toSeq)
    case other => graft.Json.quote(other.toString)
  }

  def write(path: String, v: Any): Unit = writeText(path, render(v))

  def writeText(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }
}

/** Epoch nanoseconds from one monotonic source, shared by the input
  * generator (due stamps) and the sink (emission stamps); everything
  * runs in one JVM in local mode, so both ends read the same clock.
  */
object Clock {
  private val anchorNano = System.nanoTime()
  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  def nowNs: Long = anchorEpochNs + (System.nanoTime() - anchorNano)
  def secondsSince(t0Ns: Long): Double = (nowNs - t0Ns) / 1e9
}
