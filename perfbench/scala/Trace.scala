package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a graft layer (or a grouping span around several
  * calls). `unit` is the session / commit / batch the call belongs to.
  * `attrs` are values the benchmark read off the call's inputs and
  * results; `ctr` are the Spark counters the listener attributed to the
  * span (filled only in a traced run).
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val unit: Int, val t0Ns: Long, val t0Ms: Long) {
  var t1Ns: Long = t0Ns
  var t1Ms: Long = t0Ms
  var ok: Boolean = true
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val ctr: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (t1Ns - t0Ns) / 1e6
}

/** Spans around the benchmark's calls into graft, kept in memory and
  * dumped when the run ends. With `traced` set, each span also carries
  * the Spark work done inside it: a local property names the innermost
  * open span before the call, the listener files every job, stage and
  * task under it, and the span is closed only after the listener bus
  * has drained (no sleeps). Untraced runs time the same spans with no
  * listener attached, which is what the end-to-end metrics come from.
  */
final class Tracer(spark: SparkSession, val traced: Boolean, origin: Long) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val listener: Option[SpanListener] =
    if (!traced) None
    else {
      val l = new SpanListener
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    }

  def spans: Seq[Span] = all.toSeq

  def span[T](name: String, unit: Int)(f: Span => T): T = {
    val s = new Span(all.length, open.headOption.map(_.id).getOrElse(-1), name,
      unit, System.nanoTime(), System.currentTimeMillis())
    all += s
    open = s :: open
    if (traced) spark.sparkContext.setLocalProperty(Tracer.Prop, s.id.toString)
    try f(s)
    catch { case e: Throwable => s.ok = false; throw e }
    finally {
      s.t1Ns = System.nanoTime()
      s.t1Ms = System.currentTimeMillis()
      open = open.tail
      listener.foreach { l =>
        spark.sparkContext.setLocalProperty(Tracer.Prop,
          open.headOption.map(_.id.toString).orNull)
        org.apache.spark.perfbench.Drain(spark.sparkContext)
        l.close(s)
      }
    }
  }

  /** Detach the listener (end of the traced run). */
  def stop(): Unit = listener.foreach { l =>
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }

  def json: String = all.map { s =>
    def m(kv: Iterable[(String, Double)]) =
      kv.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""unit":${s.unit},"t0_ms":${Json.num((s.t0Ns - origin) / 1e6)},""" +
      s""""ms":${Json.num(s.ms)},"ok":${s.ok},"attrs":${m(s.attrs)},"ctr":${m(s.ctr)}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Files Spark's work under the span named by the job's local property.
  * Runs on the listener-bus thread; [[close]] runs on the client thread
  * after the bus drained, so the two never race on a span's totals.
  */
final class SpanListener extends SparkListener with QueryExecutionListener {
  private final class Acc {
    val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    def add(k: String, v: Double): Unit = c(k) += v
  }
  private val acc = mutable.Map.empty[Int, Acc]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val execSpan = mutable.Map.empty[Long, Int]
  // planning phases of finished queries, claimed by the innermost span
  // whose interval holds the phase start
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]
  private val seenQe = mutable.Set.empty[Long]

  private def at(span: Int) = acc.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.Prop))).map(_.toInt).foreach { s =>
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
      at(s).add("jobs", 1)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan(x.toLong) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0) => at(s).jobs += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(s => at(s).add("stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val a = at(s)
      a.add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        a.add("task_cpu_ms", m.executorCpuTime / 1e6)
        a.add("task_run_ms", m.executorRunTime.toDouble)
        a.add("gc_ms", m.jvmGCTime.toDouble)
        a.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        a.add("input_records", m.inputMetrics.recordsRead.toDouble)
        a.add("shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble)
        a.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        a.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        a.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (seenQe.add(qe.id)) {
        qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
        execSpan.get(qe.id).foreach { s =>
          at(s).add("queries", 1)
          if (SpanListener.fileScans(qe.executedPlan) > 0) at(s).add("file_scan_queries", 1)
        }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def close(s: Span): Unit = synchronized {
    val a = acc.remove(s.id).getOrElse(new Acc)
    SpanListener.Counters.foreach(k => s.ctr(k) = a.c(k))
    s.ctr("queries") = a.c("queries")
    s.ctr("file_scan_queries") = a.c("file_scan_queries")
    val (mine, rest) = phases.partition { case (t, _) => t >= s.t0Ms && t <= s.t1Ms }
    phases.clear(); phases ++= rest
    s.ctr("plan_ms") = mine.map(_._2.toDouble).sum
    // span time no job covered: driver-side planning, listing, footer
    // reads and the client's own work between jobs
    val iv = a.jobs.map { case (b, e) => (math.max(b, s.t0Ms), math.min(e, s.t1Ms)) }
      .filter { case (b, e) => e > b }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (b, e) =>
      if (b >= end) { covered += e - b; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    s.ctr("driver_gap_ms") = math.max(0.0, s.ms - covered)
  }
}

object SpanListener {
  val Counters: Seq[String] = Seq("jobs", "stages", "tasks", "task_cpu_ms",
    "task_run_ms", "gc_ms", "input_bytes", "input_records", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_bytes")

  /** Parquet scans in an executed plan that do NOT read through an
    * in-memory relation (a cached `query_result` page has none).
    */
  def fileScans(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case _: InMemoryTableScanExec => 0
    case _: FileSourceScanExec => 1
    case other => other.children.map(fileScans).sum +
      other.subqueries.map(fileScans).sum
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
