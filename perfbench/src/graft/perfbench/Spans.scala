package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder: name, start, end and parent of every span,
  * all spans of one op sharing the op's id. Written out once, when the
  * run ends. While a span is open, every Spark job the runner launches
  * carries the span's path as its job group, so the [[Ledger]] can
  * attribute the job's cost to it. */
final class Spans(sc: org.apache.spark.SparkContext) {

  final case class Span(id: Int, op: Int, name: String, parent: Int,
                        start: Long, end: Long)

  private val done = ArrayBuffer[Span]()
  private var open = List.empty[(Int, String, Long)] // (id, name, start)
  private var nextId = 0
  private var op = -1
  private var recording = false

  /** Spans are recorded (and job groups set) only inside `traced` ops. */
  def beginOp(opId: Int, traced: Boolean): Unit = { op = opId; recording = traced }

  def group: String = s"$op|" + open.reverse.map(_._2).mkString("/")

  def apply[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name, System.nanoTime()) :: open
      tag()
      try body
      finally {
        val (_, _, start) = open.head
        open = open.tail
        done += Span(id, op, name, parent, start, System.nanoTime())
        tag()
      }
    }

  private def tag(): Unit =
    if (open.isEmpty) {
      sc.clearJobGroup()
      sc.setLocalProperty(Ledger.SpanKey, null)
    } else {
      sc.setJobGroup(group, open.head._2, interruptOnCancel = false)
      sc.setLocalProperty(Ledger.SpanKey, group)
    }

  /** One JSON object per span; times in seconds since `origin` (ns). */
  def lines(origin: Long): Seq[String] = done.toSeq.sortBy(_.id).map { s =>
    Json.obj("id" -> s.id.toString, "op" -> s.op.toString,
      "name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "start" -> Json.num((s.start - origin) / 1e9),
      "end" -> Json.num((s.end - origin) / 1e9))
  }
}
