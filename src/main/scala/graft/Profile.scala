package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Builder-side tool: run the selected registry queries under the bench
  * protocol and print per-stage wall/task times from a SparkListener — the
  * stage-level attribution the optimization guide's empirical loop needs
  * when the UI is unavailable (headless runs).
  *
  * Usage: SPARK_GRAFT_ONLY=<nameRegex> runMain graft.Profile <sfDir> [repeats]
  *
  * Output per selected query and stage (after one untimed warmup run):
  * stageId, attempt, task count, sum of task runtimes, executor run time,
  * GC time, shuffle read/write bytes, and the stage name (callsite).
  * Stages from the warmup are excluded; repeats aggregate.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val repeats = args.lift(1).map(_.toInt).getOrElse(1)
    val spark = Harness.session(sfDir)
    Harness.selected("profile").foreach { case (name, fn) =>
      try profile(spark, sfDir, name, fn, repeats) catch { case e: Throwable =>
        System.err.println(s"[profile] $name failed: ${e.getMessage}") }
    }
    Harness.stop(spark)
  }

  private def profile(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, repeats: Int): Unit = {
    // warmup (untimed, listener not yet attached)
    try fn(spark, sfDir).count() catch { case e: Throwable =>
      System.err.println(s"[profile] warmup failed: ${e.getMessage}") }
    CacheTracker.releaseAll()
    spark.catalog.clearCache()

    final case class St(name: String, tasks: Int, taskMs: Long, gcMs: Long,
        shufReadB: Long, shufWriteB: Long, inputB: Long, wallMs: Long)
    // concurrent queue: appended from the listener-bus thread, read from
    // main — safe publication without hand-rolled locking (r11 ADVICE)
    val stageQ = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        val wall = (for { s <- i.submissionTime; c <- i.completionTime }
          yield c - s).getOrElse(-1L)
        stageQ.add(St(i.name, i.numTasks, m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, wall))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    for (_ <- 1 to repeats) {
      fn(spark, sfDir).count()
      CacheTracker.releaseAll()
      spark.catalog.clearCache()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    // drain the listener bus BEFORE detaching (r11 ADVICE): a timed sleep
    // alone gave no happens-before edge, so late-delivered stage-completed
    // events could be dropped. listenerBus is private[spark] to scalac but
    // public in bytecode — reflect; fall back to a sleep if the API moves.
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(1000) }
    spark.sparkContext.removeSparkListener(listener)
    val stages = stageQ.toArray(Array.empty[St]).toSeq
    println(f"[profile] $name%s total ${dt}%.2f s over $repeats run(s), ${stages.size} stages")
    println(f"[profile] ${"wallMs"}%7s ${"taskMs"}%7s ${"gcMs"}%6s ${"tasks"}%5s " +
      f"${"shufR"}%9s ${"shufW"}%9s ${"input"}%9s  name")
    stages.sortBy(-_.wallMs).take(40).foreach { s =>
      println(f"[profile] ${s.wallMs}%7d ${s.taskMs}%7d ${s.gcMs}%6d ${s.tasks}%5d " +
        f"${s.shufReadB}%9d ${s.shufWriteB}%9d ${s.inputB}%9d  ${s.name.take(90)}")
    }
    val sumWall = stages.map(_.wallMs).sum
    println(f"[profile] stage wall sum ${sumWall}%d ms (gaps to total = driver/planning time)")
  }
}
