package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task counters summed per Spark job group. Each span runs its Spark work
  * under its own job group, so the counters of a group are the span's.
  */
final class GroupCounters extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val sums = new ConcurrentHashMap[String, mutable.Map[String, Double]]()

  private def add(group: String, key: String, v: Double): Unit = {
    val m = sums.computeIfAbsent(group, _ => mutable.Map.empty[String, Double])
    m.synchronized { m(key) = m.getOrElse(key, 0d) + v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, group))
    add(group, "jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrDefault(e.stageId, "")
      add(g, "tasks", 1)
      add(g, "task_cpu_s", m.executorCpuTime / 1e9)
      add(g, "task_run_s", m.executorRunTime / 1e3)
      add(g, "gc_s", m.jvmGCTime / 1e3)
      add(g, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(g, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(g, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(g, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  def of(group: String): Map[String, Double] =
    Option(sums.get(group)).map(m => m.synchronized(m.toMap)).getOrElse(Map.empty)
}

final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine's layers. Spans and
  * their counts stay in memory and are written as JSON lines at exit.
  */
final class Tracer(spark: SparkSession, val run: String) {
  private val sc = spark.sparkContext
  private val counters = new GroupCounters
  sc.addSparkListener(counters)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]

  /** Runs `body` as span `name` under the current span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val group = s"$run/$id"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    stack = id :: stack
    val t0 = System.nanoTime()
    val out = try body finally {
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"$run/$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
    val t1 = System.nanoTime()
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val s = Span(id, name, parent, run, t0, t1, counters.of(group))
    done += s
    (out, s)
  }

  /** Records the row count a span's stage materialized. */
  def rowsOut(s: Span, rows: Long): Unit = {
    val i = done.indexWhere(_.id == s.id)
    done(i) = s.copy(counts = s.counts + ("rows_out" -> rows.toDouble))
  }

  def spans: Seq[Span] = done.toSeq

  /** Span duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum

  def close(): Unit = sc.removeSparkListener(counters)

  def jsonLines: Seq[String] = done.toSeq.map { s =>
    val counts = s.counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"run":${Json.str(run)},"id":${s.id},"parent":${s.parent},""" +
      s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""self_s":${Json.num(selfSeconds(s))},"counts":{$counts}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
