package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A span: `id` groups every span of one login, query or generator call;
  * `parent` is `<id>:<name>` of the span that caused it ("" for a root).
  * Times are epoch microseconds. */
final case class Span(name: String, id: String, parent: String,
    startUs: Long, endUs: Long, attrs: String = "")

/** In-memory span store plus the two listeners the traced run attaches.
  * Nothing here touches the program: it only observes public hooks. */
final class Trace(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val cpu = ManagementFactory.getThreadMXBean
  private val cpuNanos = new AtomicLong()

  /** Runs `f` and charges its CPU time to the tracing overhead. */
  private def charged[T](f: => T): T = {
    val t0 = cpu.getCurrentThreadCpuTime
    try f finally cpuNanos.addAndGet(cpu.getCurrentThreadCpuTime - t0)
  }
  def cpuMs: Double = cpuNanos.get / 1e6

  def span(name: String, id: String, parent: String, startUs: Long,
      endUs: Long, attrs: String = ""): Unit =
    charged(spans.add(Span(name, id, parent, startUs, endUs, attrs)))

  // per streaming query id or board job group: jobs, stages, tasks, task
  // busy time, shuffle bytes written and bytes spilled to disk
  final class JobStats {
    var jobs, stages, tasks, busyMs, shuffleBytes, spillBytes = 0L
  }
  val jobStats = new java.util.concurrent.ConcurrentHashMap[String, JobStats]()
  private val stageQuery = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (String, String, Long)]()

  /** Runs `f` as job group `group`: its jobs are charged to that group
    * and their spans hang under the span `<group>:<parentSpan>`. */
  def inGroup[T](group: String, parentSpan: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, parentSpan)
    try f finally sc.clearJobGroup()
  }

  private def stats(q: String) = jobStats.computeIfAbsent(q, _ => new JobStats)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = charged {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val b = prop("streaming.sql.batchId")
      val sq = prop("sql.streaming.queryId")
      // a streaming query runs under a job group of its own too
      val group = if (sq.isEmpty) prop("spark.jobGroup.id") else None
      val q = sq.orElse(group).getOrElse("batch")
      // inGroup passes the parent span's name as the job description
      val parent = b.map(n => s"$q:microbatch.$n")
        .orElse(group.flatMap(g => prop("spark.job.description").map(d => s"$g:$d")))
        .getOrElse("")
      stats(q).synchronized(stats(q).jobs += 1)
      e.stageIds.foreach(s => stageQuery.put(s, q))
      jobSpan.put(e.jobId, (q, parent, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = charged {
      Option(jobSpan.remove(e.jobId)).foreach { case (q, parent, t0) =>
        spans.add(Span(s"spark.job.${e.jobId}", q, parent, t0 * 1000, e.time * 1000))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = charged {
      val st = stats(Option(stageQuery.get(e.stageInfo.stageId)).getOrElse("batch"))
      st.synchronized(st.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charged {
      val q = Option(stageQuery.get(e.stageId)).getOrElse("batch")
      val st = stats(q)
      st.synchronized {
        st.tasks += 1
        Option(e.taskMetrics).foreach { t =>
          st.busyMs += t.executorRunTime
          st.shuffleBytes += t.shuffleWriteMetrics.bytesWritten
          st.spillBytes += t.diskBytesSpilled
        }
      }
    }
  }

  // phases in the order the micro-batch engine runs them
  private val phases = Seq("latestOffset", "queryPlanning", "getBatch",
    "addBatch", "walCommit", "commitOffsets")

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      charged {
        val p = e.progress
        progress.add(p)
        val q = p.id.toString
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
        val total = p.durationMs.asScala.get("triggerExecution").fold(0L)(_.longValue)
        val batch = s"microbatch.${p.batchId}"
        spans.add(Span(batch, q, "", t0, t0 + total * 1000, s"rows=${p.numInputRows}"))
        // the engine reports phase durations, not start times: lay them
        // out back to back in execution order under the batch span
        var at = t0
        phases.foreach { ph =>
          p.durationMs.asScala.get(ph).foreach { d =>
            spans.add(Span(s"phase.$ph", q, s"$q:$batch", at, at + d * 1000))
            at += d * 1000
          }
        }
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  /** Progress events of one query, in batch order. */
  def progressOf(queryId: String): Vector[StreamingQueryProgress] =
    progress.asScala.filter(_.id.toString == queryId).toVector.sortBy(_.batchId)

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(s"""{"name":"${s.name}","id":"${s.id}","parent":"${s.parent}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"attrs":"${s.attrs}"}""")
    } finally w.close()
  }
}

object Trace {
  def epochUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** Percentiles and small statistics over measured samples. */
object Stats {
  /** Nearest-rank percentile, `q` in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Result metrics in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, v: (Double, String)): Unit = m(name) = v
  def json: String = m.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "null" else v.toString
    s""""$k":{"value":$num,"unit":"$u"}"""
  }.mkString("{", ",", "}")
}
