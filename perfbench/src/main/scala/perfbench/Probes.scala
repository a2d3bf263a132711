package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters of one traced step run, filled from listener events.
  * Spark delivers listener events on its own bus thread, so every field
  * is written there and read only after [[Probes.settle]]. */
final class StepCounters {
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  val stages = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** One micro-batch of a streaming step, as its progress event reports it. */
final case class Trigger(tag: String, inputRows: Long, durations: Map[String, Long],
    stateCommitMs: Long)

/** The local property that ties Spark work to a step, like a job group
  * that leaves the engine's own job groups alone. */
object Tag {
  val Property = "perfbench.step"
  def apply(pass: String, step: String): String = s"$pass/$step"
}

/** The benchmark's own listeners. The `SparkListener` half attributes
  * every job, and the stages it runs, to the step whose tag the job
  * carries in its local properties (streaming jobs inherit the tag from
  * the thread that started the query). It is registered only in a
  * traced run, and only a traced pass tags its jobs.
  * The `StreamingQueryListener` half records every trigger's progress
  * under the tag of the step that started the query; it is always on,
  * because the end-to-end stream rate and serve latency come from it. */
final class Probes extends SparkListener {
  @volatile var currentTag: String = ""
  private val byTag = new ConcurrentHashMap[String, StepCounters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val runTag = new ConcurrentHashMap[java.util.UUID, String]()
  private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val openJobs = ConcurrentHashMap.newKeySet[Int]()
  private val events = new AtomicLong
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()

  def counters(tag: String): StepCounters =
    byTag.computeIfAbsent(tag, _ => new StepCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tag.Property)))
    tag.foreach { t =>
      openJobs.add(e.jobId)
      counters(t).jobs.add(e.jobId)
      e.stageIds.foreach(stageTag.putIfAbsent(_, t))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    openJobs.remove(e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    Option(stageTag.get(e.stageInfo.stageId)).foreach { t =>
      val c = counters(t)
      c.stages.incrementAndGet()
      Option(e.stageInfo.taskMetrics).foreach { m =>
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runTag.put(e.runId, currentTag)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      val tag = Option(runTag.get(p.runId)).getOrElse("")
      triggers.add(Trigger(tag, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.commitTimeMs).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      events.incrementAndGet()
      terminated.add(e.runId)
    }
  }

  /** Waits until every started query's last progress has arrived and
    * every attributed job has ended, then for the bus to go quiet:
    * listener events trail the calls that caused them. */
  def settle(timeoutMs: Long = 20000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = runTag.keySet.asScala.forall(terminated.contains) && openJobs.isEmpty
    var quiet = 0
    var last = -1L
    while (System.currentTimeMillis() < deadline && quiet < 3) {
      val seen = events.get
      quiet = if (done && seen == last) quiet + 1 else 0
      last = seen
      Thread.sleep(100)
    }
    quiet >= 3
  }

  def triggersOf(prefix: String): Seq[Trigger] =
    triggers.asScala.filter(_.tag.startsWith(prefix)).toSeq
}
