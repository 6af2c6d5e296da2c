package graftbench

import scala.collection.mutable.ArrayBuffer

/** Spans (name, start, end, parent) around calls into graft's layers, kept
  * in memory and written out once at the end of a traced run. Disabled, it
  * only runs the body. The benchmark has one client thread, so spans nest
  * by call order. */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private val origin = System.nanoTime()

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        open = open.tail
      }
    }

  def spans: Seq[Map[String, Any]] = done.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9)
  }.toSeq
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = r.floor.toInt
      val hi = r.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Bytes of all regular files under `dir`. */
  def diskBytes(dir: java.io.File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles).map(_.map(diskBytes).sum).getOrElse(0L)
}
