package perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded span: a call into a layer, timed from the benchmark side.
  * `op` is the id every span of one op shares; `parent` is the enclosing
  * span's id (0 at the op root). */
final case class Span(id: Int, parent: Int, op: Int, pass: Int,
                      name: String, t0: Long, t1: Long)

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced runs that give the end-to-end metrics carry no bookkeeping;
  * enabled, every span stays in memory and is written out when the run
  * ends. Single-threaded by construction: the workloads are closed-loop,
  * one client, and spans are opened only on the thread that runs the
  * ops. */
final class Trace(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil
  var op = 0
  var pass = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, pass, name, t0, System.nanoTime())
      }
    }
}
