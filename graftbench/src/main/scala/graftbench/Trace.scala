package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed step: `parent` is the enclosing span's id (-1 for an
  * operation's root), `op` the operation every span of one request,
  * sync or entry shares. Times are System.nanoTime.
  */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder for the traced run. Spans nest by a stack on
  * the calling thread; the benchmark drives one client thread, so that
  * is the only thread that records. Disabled, every call is the bare
  * body.
  */
final class Tracer(var enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0
  private var curOp = -1

  /** A new operation: a root span under a fresh op id. */
  def op[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      curOp += 1
      span(name)(body)
    }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        done += Span(id, name, curOp, parent, t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Tracer {

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.durNs - Stats.covered(cs, s.start, s.end))
    }.toMap
  }

  /** Names of the spans that time a call into one of the engine's
    * layers (as opposed to the harness's own spans: ops, `client`,
    * `replay`, `probe`).
    */
  val LayerPrefixes: Seq[String] =
    Seq("api.", "store.", "core.", "query.", "graph.", "ingest.")

  def isLayer(name: String): Boolean = LayerPrefixes.exists(name.startsWith)

  /** The share of the containers' wall time that the layer spans inside
    * them account for: the layer spans' self times over the containers'
    * durations. Whatever is left is harness time between the steps.
    */
  def coverage(spans: Seq[Span], container: Span => Boolean): Double = {
    val self = selfTimes(spans)
    val byId = spans.map(s => s.id -> s).toMap
    def inside(s: Span): Boolean = byId.get(s.parent).exists(p => container(p) || inside(p))
    val covered = spans.filter(s => isLayer(s.name) && inside(s)).map(s => self(s.id)).sum
    covered.toDouble / math.max(1L, spans.filter(container).map(_.durNs).sum)
  }

  /** JSON lines, one span each, for the sidecar file. */
  def toJsonLines(spans: Seq[Span]): Seq[String] = {
    val self = selfTimes(spans)
    spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)}}""")
  }
}
