package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Where does a registered query's wall-clock actually go? (Optimization
  * guide §1: measure first.) The bench's min3/med5 number is one opaque
  * scalar; at sf0.1 the tables are tiny (lineitem 600k rows, documents 5k),
  * so multi-second queries are overhead-bound — driver planning, job count,
  * task count, codegen — not byte-throughput. This probe runs ONE registered
  * query N times and, for each run, splits the time into:
  *   build  — SparkEntry.queries(name)(spark, dir): DataFrame construction
  *            (closure work: any driver-side training loops/counts live here)
  *   exec   — the noop write (analysis + optimization + codegen + jobs)
  * and prints per-run Spark job count / stage count / task count / executor
  * run time collected by a listener, so "32 jobs of 8ms tasks" is visible as
  * the scheduling overhead it is.
  *
  * Usage: runMain graft.tools.StageProbe <query> [sfDir] [n] [cpus]
  */
object StageProbe {
  final class Probe extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    // AtomicLong (r18, ADVICE): onTaskEnd used to add under synchronized(this)
    // while reset() wrote the then-volatile field without the lock — a task
    // ending concurrently with reset() could resurrect pre-reset milliseconds.
    private val taskRun = new java.util.concurrent.atomic.AtomicLong
    def taskRunMs: Long = taskRun.get
    // executorRunTime is WALL time on the task thread — it inflates under
    // GC pauses and hypervisor CPU steal. executorCpuTime (ns) counts only
    // on-CPU time, so run ≫ cpu separates "threads waiting" (GC/steal/lock)
    // from "threads computing" (r18: the audio 8-vs-32-thread adjudication).
    private val taskCpu = new java.util.concurrent.atomic.AtomicLong
    private val taskGc = new java.util.concurrent.atomic.AtomicLong
    def taskCpuMs: Long = taskCpu.get / 1000000L
    def taskGcMs: Long = taskGc.get
    val stageInfo = mutable.ArrayBuffer.empty[(String, Int, Long)] // name, tasks, ms
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val si = sc.stageInfo
      val ms = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(0L)
      stageInfo.synchronized {
        stageInfo += ((si.name.takeWhile(_ != '\n'), si.numTasks, ms)); ()
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskMetrics != null) {
        taskRun.addAndGet(t.taskMetrics.executorRunTime)
        taskCpu.addAndGet(t.taskMetrics.executorCpuTime)
        taskGc.addAndGet(t.taskMetrics.jvmGCTime)
        ()
      }
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskRun.set(0); taskCpu.set(0); taskGc.set(0)
      stageInfo.synchronized { stageInfo.clear() }
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_corr_stats").split(',').toSeq
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(2).map(_.toInt).getOrElse(4)
    val cpus = args.lift(3).map(_.toInt).getOrElse(graft.Engine.cpus)
    val spark = graft.Engine.session(s"local[$cpus]", cpus)
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    // Same warmup as Bench so run 1 is not JVM init.
    spark.range(1000000).selectExpr("sum(id) s", "count(*) c").write.format("noop").mode("overwrite").save()
    for (name <- names) (1 to n).foreach { i =>
      probe.reset()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      // listener bus is async (and its drain API is private[spark]); a short
      // sleep is plenty for a profiling tool at this event volume
      Thread.sleep(300)
      println(f"[$i/$n] $name total=${(t2 - t0) / 1e9}%.3f s  build=${(t1 - t0) / 1e9}%.3f s  " +
        f"exec=${(t2 - t1) / 1e9}%.3f s  jobs=${probe.jobs.get} stages=${probe.stages.get} " +
        f"tasks=${probe.tasks.get} taskRun=${probe.taskRunMs / 1e3}%.2f s " +
        f"taskCpu=${probe.taskCpuMs / 1e3}%.2f s taskGc=${probe.taskGcMs / 1e3}%.2f s")
      if (i == n) {
        val top = probe.stageInfo.synchronized(probe.stageInfo.sortBy(-_._3).take(12))
        top.foreach { case (nm, nt, ms) => println(f"    stage $ms%6d ms  $nt%4d tasks  $nm") }
      }
      System.gc()
    }
    spark.stop()
  }
}
