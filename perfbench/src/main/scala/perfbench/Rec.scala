package perfbench

import scala.collection.mutable.ArrayBuffer

/** Wall clock shared by operations, spans and the listener's job times:
  * epoch microseconds, anchored once and advanced by `nanoTime`. */
object Clock {
  private val base = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def us: Long = base + System.nanoTime() / 1000L
}

/** Everything a run records; run.py turns it into metrics. */
final class Rec {
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val spans = ArrayBuffer.empty[Map[String, Any]]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private var nextSpan = 0
  private val stack = scala.collection.mutable.Stack.empty[Int]
  @volatile var traced = false
  var run = 0

  def op(fields: (String, Any)*): Unit = synchronized { ops += fields.toMap }

  def check(kind: String, name: String, got: Any): Unit =
    synchronized { checks += Map("kind" -> kind, "name" -> name, "got" -> got) }

  /** A traced span: recorded only in traced passes, nested by the
    * calling thread's stack (layer calls are sequential). */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = synchronized { nextSpan += 1; nextSpan }
      val parent = synchronized(stack.headOption)
      synchronized(stack.push(id))
      val t0 = Clock.us
      try body
      finally {
        val t1 = Clock.us
        synchronized {
          stack.pop()
          spans += Map("id" -> id, "name" -> name, "start_us" -> t0,
            "end_us" -> t1, "parent" -> parent, "run" -> run)
        }
      }
    }
}
