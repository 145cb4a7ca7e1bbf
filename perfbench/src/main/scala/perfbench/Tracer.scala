package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around calls into the program, and what Spark did inside them.
  *
  * A span is one call: the benchmark sets the local property [[Span.Key]]
  * on the calling thread for the duration of the call. Spark copies local
  * properties into every job the call submits, including jobs from thread
  * pools the call creates and from Spark's own SQL async threads, so the
  * listener attributes each job, stage and task to exactly one span.
  *
  * Without a tracer the spans only time the call; the listener is
  * registered in traced runs only. */
object Span {
  val Key = "perfbench.span"

  final case class Call(id: String, label: String, startMs: Long, endMs: Long) {
    def wallS: Double = (endMs - startMs) / 1e3
  }

  private val counter = new java.util.concurrent.atomic.AtomicLong(0)
  private val calls = mutable.ArrayBuffer.empty[Call]

  def apply[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val id = s"${counter.incrementAndGet()}|$label"
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(Key, prev)
      calls.synchronized { calls += Call(id, label, t0, t1) }
    }
  }

  /** Returns and forgets every call recorded since the last drain. */
  def drainCalls(): Seq[Call] = calls.synchronized {
    val out = calls.toList; calls.clear(); out
  }
}

/** Per-span totals gathered from Spark's listener events. */
final class SpanTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var busyMs = 0L
  var waitMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var matJobs = 0L
  var matMs = 0L
  var ccJobs = 0L
  var jobIntervals = List.empty[(Long, Long)]
}

/** One streaming micro-batch, as its progress event reports it. */
final case class Progress(timeMs: Long, inputRows: Long, addBatchMs: Long,
                          planningMs: Long, walCommitMs: Long, commitOffsetsMs: Long)

/** A running job: its span, its description and its start time. */
private final case class Job(span: String, desc: String, start: Long)

final class Tracer extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[(Int, Int), Long]()
  private val totals = mutable.Map.empty[String, SpanTotals]

  private def of(span: String): SpanTotals =
    totals.synchronized(totals.getOrElseUpdate(span, new SpanTotals))

  /** The connected-components loop materializes these relations; every
    * other `mat[...]` job is a corpus stage. */
  private val ccLabels = Set("mat[src,dst]", "mat[id,comp]", "mat[id,comp,__ch]")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Span.Key))).getOrElse("")
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, Job(span, desc, e.time))
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      val t = of(j.span)
      t.synchronized {
        t.jobs += 1
        t.jobIntervals = (j.start, e.time) :: t.jobIntervals
        if (j.desc.startsWith("mat[")) {
          t.matJobs += 1
          t.matMs += e.time - j.start
          if (ccLabels.contains(j.desc)) t.ccJobs += 1
        }
      }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    stageSubmitted.put((info.stageId, info.attemptNumber()),
      info.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = Option(stageSpan.get(e.stageInfo.stageId)).getOrElse("")
    val t = of(span)
    t.synchronized(t.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = Option(stageSpan.get(e.stageId)).getOrElse("")
    val t = of(span)
    val submitted = Option(stageSubmitted.get((e.stageId, e.stageAttemptId)))
    t.synchronized {
      t.tasks += 1
      submitted.foreach(s => t.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        t.busyMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val progress = mutable.ArrayBuffer.empty[Progress]

  /** Fed by [[StreamTrace]] for every micro-batch of every session.
    * Progress events carry no local properties; they are attributed to a
    * call later, by the batch's start time. */
  def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val at = java.time.Instant.parse(p.timestamp).toEpochMilli
    progress.synchronized {
      progress += Progress(at, p.numInputRows, d("addBatch"), d("queryPlanning"),
        d("walCommit"), d("commitOffsets"))
    }
  }

  /** Waits for the listener bus, then returns and forgets the totals of
    * every span seen so far (keyed by span id) and every micro-batch. */
  def drain(spark: SparkSession): (Map[String, SpanTotals], Seq[Progress]) = {
    BenchBus.drain(spark.sparkContext)
    val t = totals.synchronized {
      val out = totals.toMap; totals.clear(); out
    }
    val p = progress.synchronized {
      val out = progress.toList; progress.clear(); out
    }
    (t, p)
  }
}

/** Streaming progress listener. Registered through
  * `spark.sql.streaming.streamingQueryListeners`, a static conf, so every
  * session gets one, including the session clones the program drains
  * streams on. Forwards progress to the active [[Tracer]]. */
final class StreamTrace extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    StreamTrace.active.foreach(_.onProgress(e.progress))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object StreamTrace {
  @volatile var active: Option[Tracer] = None
}

/** Peak JVM heap over an interval, from the heap pools' peak counters. */
object HeapPeak {
  private def pools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def reset(): Unit = pools.foreach(_.resetPeakUsage())

  def mb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Intervals {
  /** Total length of the union of [start, end] intervals. */
  def unionMs(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
