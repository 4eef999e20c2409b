package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory spans around calls into the program, plus a `SparkListener`
  * that charges every job, stage and task to the span that was innermost
  * when the job started (through the job group, which the tracer sets to
  * the span id on open and restores on close).
  *
  * A span's counters are therefore its SELF counters; its self time is
  * its duration minus the durations of its children (children never
  * overlap: the benchmark calls the program from one thread).
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  // The listener runs on Spark's bus thread: it finds spans here.
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private var open = List.empty[Span]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val root = new Span(-1, "untraced", "untraced", -1, System.nanoTime())
  @volatile private var storagePeak = 0L

  spark.sparkContext.addSparkListener(this)

  def span[T](name: String, layer: String)(f: => T): T = {
    val parent = open.headOption
    val s = new Span(spans.size, name, layer, parent.map(_.id).getOrElse(-1), System.nanoTime())
    s.gcStartMs = gcMillis()
    spans += s
    byId.put(s.id, s)
    open = s :: open
    spark.sparkContext.setJobGroup(Group + s.id, name, interruptOnCancel = false)
    try f finally {
      s.end = System.nanoTime()
      s.gcEndMs = gcMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(Group + p.id, p.name, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
      sampleStorage()
    }
  }

  /** Sum of the block-store size of every persisted RDD (the
    * `Lineage.cut` checkpoints), kept as the running peak.
    */
  def sampleStorage(): Unit = {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    storagePeak = math.max(storagePeak, bytes)
  }

  /** Waits until every event posted so far has reached this listener,
    * then detaches it and returns the spans.
    */
  def finish(): Seq[Span] = {
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spans.toSeq
  }

  def storagePeakBytes: Long = storagePeak

  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Group))
      .flatMap(g => Option(byId.get(g.stripPrefix(Group).toInt)))
      .getOrElse(root)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    e.stageIds.foreach(id => stageSpan.put(id, s))
    s.synchronized {
      s.jobs += 1
      if (e.stageInfos.exists(_.name.startsWith("localCheckpoint"))) s.cuts += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stageSpan.getOrDefault(e.stageInfo.stageId, root)
    s.synchronized { s.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stageSpan.getOrDefault(e.stageId, root)
      s.synchronized {
        s.tasks += 1
        s.taskNanos += m.executorRunTime * 1000000L
        s.cpuNanos += m.executorCpuTime
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
      }
    }
  }
}

object Tracer {
  private val Group = "perfbench-span-"

  final class Span(val id: Int, val name: String, val layer: String,
      val parent: Int, val start: Long) {
    var end = 0L
    var gcStartMs = 0L
    var gcEndMs = 0L
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskNanos = 0L
    var cpuNanos = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var cuts = 0L
    def seconds: Double = (end - start) / 1e9
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Self time of each span: its duration minus its children's. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childTime = spans.groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Self GC seconds of each span (in local mode the tasks run in this
    * JVM, so its collectors' time is theirs).
    */
  def selfGcSeconds(spans: Seq[Span]): Map[Int, Double] = {
    def gc(s: Span) = (s.gcEndMs - s.gcStartMs) / 1e3
    val childGc = spans.groupMapReduce(_.parent)(gc)(_ + _)
    spans.map(s => s.id -> (gc(s) - childGc.getOrElse(s.id, 0.0))).toMap
  }
}
