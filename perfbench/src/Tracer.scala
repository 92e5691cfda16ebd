package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Listener the benchmark registers in a traced run. It keeps raw records
  * in memory, tagged with the pass that was open when the listener bus
  * delivered them (the harness drains the bus at every pass boundary), and
  * the Python side turns them into per-layer metrics. Recording is off
  * while `enabled` is false, so untraced passes of the same run pay only
  * the event delivery.
  */
final class Tracer extends SparkListener {
  @volatile var enabled = false
  @volatile var pass = -1

  val jobs = ArrayBuffer.empty[String]
  val stages = ArrayBuffer.empty[String]
  val tasks = ArrayBuffer.empty[String]
  val batches = ArrayBuffer.empty[String]
  val cache = ArrayBuffer.empty[String]

  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, String, String, Seq[Int])]
  // cached bytes per RDD block, for the running total of cached storage
  private val blocks = scala.collection.mutable.Map.empty[String, (Int, Long)]
  private var cachedBytes = 0L

  private def q(s: String): String = Json.str(s)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobStart(e.jobId) = (e.time, prop(Harness.QueryProp), prop(Harness.PhaseProp), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, query, phase, stageIds) =>
      jobs += s"""[$pass,${e.jobId},$t0,${e.time},${q(query)},${q(phase)},${stageIds.mkString("[", ",", "]")}]"""
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val i = e.stageInfo
    stages += s"[$pass,${i.stageId},${i.submissionTime.getOrElse(0L)},${i.completionTime.getOrElse(0L)}]"
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    val t = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    tasks += Seq[Any](pass, e.stageId, t.launchTime, t.finishTime,
      g(_.executorRunTime), g(_.executorCpuTime), g(_.jvmGCTime), g(_.executorDeserializeTime),
      g(_.shuffleWriteMetrics.bytesWritten),
      g(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead),
      g(_.shuffleReadMetrics.fetchWaitTime), g(_.diskBytesSpilled), g(_.peakExecutionMemory),
      g(_.inputMetrics.bytesRead), g(_.outputMetrics.bytesWritten),
      if (t.successful) 1 else 0).mkString("[", ",", "]")
  }

  // tracked in untraced passes too, so the running total stays exact
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId.asRDDId.foreach { id =>
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cachedBytes += size - blocks.get(b.blockId.name).map(_._2).getOrElse(0L)
      if (size > 0) blocks(b.blockId.name) = (id.rddId, size) else blocks.remove(b.blockId.name)
      lazy val frames = blocks.valuesIterator.map(_._1).toSet.size
      if (enabled) cache += s"[$pass,$cachedBytes,$frames]"
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent if enabled => synchronized {
      val pr = p.progress
      def d(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = pr.stateOperators.toSeq
      batches += Seq[Any](pass, d("triggerExecution"), ops.map(_.commitTimeMs).sum,
        d("walCommit") + d("commitOffsets"), ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum).mkString("[", ",", "]")
    }
    case _ =>
  }
}

/** Minimal JSON text helpers for the records file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
