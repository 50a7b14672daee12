package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval of the traced run. Times are nanoseconds since the
  * tracer was created; `parent` is -1 for an op's root span.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** Work the listener saw for the jobs submitted inside one span. */
final class Counts {
  var jobs, stages, tasks, singleTaskStages, failedTasks = 0L
  var taskCpuNs, shuffleWriteBytes, shuffleReadBytes, spillBytes, gcMs = 0L
}

/** One SQL execution that wrote files. */
final case class Write(execId: Long, path: String, rows: Long, bytes: Long,
    files: Long)

/** Records spans in memory and attributes Spark's work to them.
  *
  * The harness opens spans around its calls into the engine. While a span
  * is open, its id is a local property of the client thread, so every job
  * that thread submits carries it; stages and tasks inherit the job's
  * span. SQL executions that write files become `write` spans under the op
  * whose interval holds their start, which is exact because the client is
  * a single thread. Read the listener state only after [[drain]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {

  private val nano0 = System.nanoTime()
  private val epoch0Ms = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - nano0
  def fromEpochMs(ms: Long): Long = (ms - epoch0Ms) * 1000000L

  // client thread only
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open: List[Int] = Nil

  def span[T](name: String, op: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = now()
    try body
    finally {
      spans += Span(id, parent, op, name, t0, now())
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.toString).orNull)
    }
  }

  /** Adds a span measured elsewhere (a planning phase, a write) under the
    * innermost span of `op` that contains its start.
    */
  def place(name: String, op: Int, startNs: Long, endNs: Long): Unit = {
    val holders = spans.filter(s => s.op == op && s.startNs <= startNs &&
      startNs <= s.endNs)
    val parent = if (holders.isEmpty) -1
      else holders.minBy(s => s.endNs - s.startNs).id
    spans += Span(nextId, parent, op, name, startNs, endNs)
    nextId += 1
  }

  // listener thread; guarded by `this`
  val counts = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val sqlStartMs = mutable.Map.empty[Long, Long]
  private val sqlEndMs = mutable.Map.empty[Long, Long]
  /** Per write execution: output path and metric name to accumulator id. */
  private val writeNodes = mutable.Map.empty[Long, (String, Map[String, Long])]
  private val accums = mutable.Map.empty[Long, Long]
  private val taken = mutable.Set.empty[Long]

  private def of(span: Int): Counts = counts.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .fold(-1)(_.toInt)
    of(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = of(stageSpan.getOrElse(info.stageId, -1))
    c.stages += 1
    c.tasks += info.numTasks
    if (info.numTasks == 1) c.singleTaskStages += 1
    val m = info.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success)
      of(stageSpan.getOrElse(e.stageId, -1)).failedTasks += 1
  }

  /** Remembers an execution whose plan writes files: the path and the
    * accumulators of the write's row, byte and file counts, whose final
    * values arrive as driver accumulator updates.
    */
  private def noteWrite(id: Long, plan: SparkPlanInfo): Unit = {
    def find(p: SparkPlanInfo): Option[SparkPlanInfo] =
      if (p.nodeName.startsWith(Tracer.WriteNode)) Some(p)
      else p.children.iterator.flatMap(find).nextOption()
    find(plan).foreach { w =>
      val path = w.simpleString.stripPrefix(Tracer.WriteNode).trim.takeWhile(_ != ',')
      writeNodes(id) = path -> w.metrics.map(m => m.name -> m.accumulatorId).toMap
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStartMs(s.executionId) = s.time
        noteWrite(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        noteWrite(u.executionId, u.sparkPlanInfo)
      case s: SparkListenerSQLExecutionEnd => sqlEndMs(s.executionId) = s.time
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => accums(id) = v }
      case _ =>
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** The file writes finished since the last call, each placed as a
    * `write` span under the op (id, start, end) whose interval holds its
    * start.
    */
  def takeWrites(ops: Seq[(Int, Long, Long)]): Seq[Write] = {
    drain()
    synchronized {
      val done = writeNodes.keys.filter(id => !taken(id) && sqlEndMs.contains(id)).toSeq.sorted
      taken ++= done
      done.map { id =>
        val (path, ids) = writeNodes(id)
        def metric(name: String) = ids.get(name).flatMap(accums.get).getOrElse(0L)
        val (startNs, endNs) = (fromEpochMs(sqlStartMs(id)), fromEpochMs(sqlEndMs(id)))
        ops.find { case (_, a, b) => a <= startNs && startNs <= b }
          .foreach { case (op, _, _) => place("write", op, startNs, endNs) }
        Write(id, path, metric("number of output rows"), metric("written output"),
          metric("number of written files"))
      }
    }
  }
}

object Tracer {
  val SpanKey = "graft.perfbench.span"
  val WriteNode = "Execute InsertIntoHadoopFsRelationCommand"
}
