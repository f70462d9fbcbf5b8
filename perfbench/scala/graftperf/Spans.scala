package graftperf

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that was open when this one started (-1 for a root); `query` names the
  * workload query or month the span belongs to ("" outside any). */
final class Span(val id: Int, val name: String, val layer: String,
    val parent: Int, val query: String, val startNs: Long,
    val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark's clock. Every timing the harness reports is a span, so
  * timed and traced runs share one code path; with `traced` set, each span
  * also runs its Spark jobs under its own job group, which is how the
  * listeners in [[Tracer]] attribute jobs, stages and tasks to spans. */
final class Spans(sc: SparkContext, traced: Boolean) {
  val all = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def groupOf(id: Int): String = s"perfbench-span-$id"

  def time[T](name: String, layer: String, query: String = "")(
      body: => T): (T, Span) = {
    val q = if (query.nonEmpty) query else open.headOption.fold("")(_.query)
    val s = new Span(all.size, name, layer, open.headOption.fold(-1)(_.id),
      q, System.nanoTime(), System.currentTimeMillis())
    all += s
    open = s :: open
    if (traced) sc.setJobGroup(groupOf(s.id), name)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      if (traced) open.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p.id), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Seconds of `s` not covered by its children (children never overlap:
    * the harness opens spans on one thread, one at a time). */
  def selfSeconds(s: Span): Double =
    s.seconds - all.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def descendants(root: Span): Seq[Span] = {
    val kids = all.filter(_.parent == root.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** The innermost span open at wall-clock `ms`, for events that carry a
    * time but no job group (streaming micro-batches run on their own
    * threads under their own group). */
  def at(ms: Long): Option[Span] =
    all.filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => (s.startMs, s.id)).lastOption
}
