package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed operation: a single synchronous call the client makes.
  * A failed operation (thrown, or a result the check rejects) keeps its
  * record so it is counted and named, but never enters a timing.
  */
final case class OpRecord(kind: String, name: String, group: String, round: Int,
    startNs: Long, endNs: Long, ok: Boolean, reason: String, span: Long) {
  def durationMs: Double = (endNs - startNs) / 1e6
}

/** One round of a workload (a sync cycle, a board pass, a corpus ingest). */
final case class RoundRecord(round: Int, startNs: Long, endNs: Long, ok: Boolean,
    gcMs: Long, gcCount: Long)

/** A span: one call into a layer, or a Spark job or stage. */
final case class Span(id: Long, parent: Long, trace: Long, layer: String, name: String,
    startNs: Long, endNs: Long)

/** A completed Spark stage, attributed through the job group the client
  * set around the enclosing call.
  */
final case class StageRecord(stageId: Int, attempt: Int, group: String, name: String,
    startNs: Long, endNs: Long, tasks: Int, taskMs: Long, gcMs: Long,
    shuffleBytes: Long, spillBytes: Long, inputBytes: Long, peakExecBytes: Long)

/** Records operations, rounds and (when tracing) spans and Spark execution.
  *
  * The Spark listener is registered only when tracing: every end-to-end
  * figure comes from untraced runs. Listener times arrive in epoch millis;
  * they are mapped onto the nanosecond clock the client uses.
  */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  val ops = ArrayBuffer.empty[OpRecord]
  val rounds = ArrayBuffer.empty[RoundRecord]
  val spans = new ConcurrentLinkedQueue[Span]()
  val stages = new ConcurrentLinkedQueue[StageRecord]()
  val heapMb = ArrayBuffer.empty[Double]
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[List[(Long, Long)]] { // (span, trace)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + nanoOffset
  private val sc = spark.sparkContext

  private val jobGroups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobSpans = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageJobSpans = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageGroups = new java.util.concurrent.ConcurrentHashMap[(Int, Int), String]()
  private val peakByStage = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()

  // job spans hang under the call that set the job group, stage spans
  // under the job that ran them
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        val id = ids.incrementAndGet()
        jobGroups.put(e.jobId, g)
        jobStarts.put(e.jobId, e.time)
        jobSpans.put(e.jobId, id)
        e.stageIds.foreach(s => stageJobSpans.putIfAbsent(s, id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val g = jobGroups.get(e.jobId)
      if (g != null) {
        val (parent, trace) = parse(g)
        spans.add(Span(jobSpans.get(e.jobId), parent, trace, "spark.job", s"job ${e.jobId}",
          msToNs(jobStarts.get(e.jobId)), msToNs(e.time)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) stageGroups.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), g)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        peakByStage.merge((e.stageId, e.stageAttemptId), e.taskMetrics.peakExecutionMemory,
          (a, b) => math.max(a, b))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val key = (i.stageId, i.attemptNumber())
      val g = stageGroups.get(key)
      val m = i.taskMetrics
      if (g != null && m != null) {
        val start = i.submissionTime.getOrElse(0L)
        val end = i.completionTime.getOrElse(start)
        stages.add(StageRecord(i.stageId, i.attemptNumber(), g, i.name,
          msToNs(start), msToNs(end), i.numTasks, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, peakByStage.getOrDefault(key, 0L)))
        val (parent, trace) = parse(g)
        spans.add(Span(ids.incrementAndGet(), stageJobSpans.getOrDefault(i.stageId, parent), trace,
          "spark.stage", s"stage ${i.stageId}: ${i.name}", msToNs(start), msToNs(end)))
      }
    }
  }
  if (tracing) sc.addSparkListener(listener)

  private def parse(group: String): (Long, Long) = {
    val Array(s, t) = group.split(":")
    (s.toLong, t.toLong)
  }

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Run `body` as a span of `layer`; Spark jobs it launches are attributed
    * to it through the job group.
    */
  def span[T](layer: String, name: String)(body: => T): T = {
    val stack = current.get()
    val trace = stack.headOption.map(_._2).getOrElse(ids.incrementAndGet())
    val id = ids.incrementAndGet()
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    current.set((id, trace) :: stack)
    sc.setLocalProperty("spark.jobGroup.id", s"$id:$trace")
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      current.set(stack)
      if (tracing) spans.add(Span(id, parent, trace, layer, name, t0, t1))
    }
  }

  /** One timed operation. `check` returns a failure reason for a wrong
    * result; a throw is a failure too. Returns the result when it passed.
    */
  def op[T](kind: String, name: String, group: String, round: Int)(body: => T)(
      check: T => Option[String]): Option[T] = {
    def describe(e: Throwable) =
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    var spanId = 0L
    val t0 = System.nanoTime()
    val ran: Either[String, T] =
      try Right(span("bench", s"$kind:$name") {
        spanId = current.get().headOption.map(_._1).getOrElse(0L)
        body
      })
      catch { case NonFatal(e) => Left(describe(e)) }
    val t1 = System.nanoTime()
    // the check runs outside the timed window
    val result = ran.flatMap { r =>
      try check(r).toLeft(r) catch { case NonFatal(e) => Left(describe(e)) }
    }
    result.left.foreach(reason => System.err.println(s"[perfbench] FAILED $kind $name: $reason"))
    ops += OpRecord(kind, name, group, round, t0, t1, result.isRight,
      result.left.getOrElse(""), spanId)
    result.toOption
  }

  /** Time one round; it is ok only when every operation in it passed. */
  def round(n: Int)(body: => Unit): Unit = {
    val before = ops.size
    val (gc0, gcn0) = gcTotals()
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    val (gc1, gcn1) = gcTotals()
    rounds += RoundRecord(n, t0, t1, ops.drop(before).forall(_.ok), gc1 - gc0, gcn1 - gcn0)
  }

  /** Heap in use after a full collection, outside any timed window. */
  def heapCheckpoint(): Unit = {
    // Spark's listener bus holds a backlog of events, and its cleaner
    // thread frees unpersisted blocks, broadcasts and shuffles only after
    // a GC found them unreachable: drain, collect, give the cleaner a
    // moment, drain and collect again
    org.apache.spark.BenchBus.drain(sc)
    System.gc()
    Thread.sleep(200)
    org.apache.spark.BenchBus.drain(sc)
    System.gc()
    heapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Detach the listener once it has seen every event so far. */
  def close(): Unit = if (tracing) {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def toJson: Map[String, Any] = Map(
    "ops" -> ops.toSeq,
    "rounds" -> rounds.toSeq,
    "spans" -> spans.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "heap_mb" -> heapMb.toSeq)
}
