package graftbench

import scala.collection.mutable

/** A span: one call the benchmark made into a layer. `rep` is shared by
  * every span of one traced rep; `parent` is the enclosing span's id
  * (-1 at the root). Times are epoch milliseconds (comparable with
  * Spark's task times) plus the precise duration in nanoseconds.
  */
final case class Span(rep: String, id: Int, parent: Int, name: String,
                      startMs: Long, endMs: Long, durNs: Long) {
  def seconds: Double = durNs / 1e9
  def toJson: Map[String, Any] = Map("rep" -> rep, "id" -> id, "parent" -> parent,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs, "dur_s" -> seconds)
}

/** Records spans in memory; they are written out when the run ends.
  * [[Tracer.Off]] runs the body and records nothing, so the timed reps
  * carry no tracing work.
  */
class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var rep = ""

  def live: Boolean = true
  def spans: Seq[Span] = done.toList

  def inRep[A](repId: String)(f: => A): A = { rep = repId; try span("rep")(f) finally rep = "" }

  def span[A](name: String)(f: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try f
    finally {
      val dur = System.nanoTime() - t0
      stack = stack.tail
      done += Span(rep, id, parent, name, ms0, System.currentTimeMillis(), dur)
    }
  }
}

object Tracer {
  object Off extends Tracer {
    override def live: Boolean = false
    override def inRep[A](repId: String)(f: => A): A = f
    override def span[A](name: String)(f: => A): A = f
  }
}
