package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import graft.{Session, SparkEntry}

/** Job/stage-level profile and plan dump of SparkEntry queries:
  * `runMain graft.tools.QueryProfile <sfDir> <outDir> [q…]` (default: all
  * queries; `entry` names the flagship geocode of `SparkEntry.entry`).
  * Each query runs twice (JIT warm); the first run writes its
  * `explain("formatted")` to `<outDir>/<q>.txt`, the second prints its
  * build/plan/exec split and its jobs/stages with wall, task time and GC.
  * Iterative operators (q36/q38/q44) return a materialized frame whose plan
  * is the final cached scan.
  */
object QueryProfile {

  /** Collects (jobId, description, wall seconds) for every completed job. */
  class JobTimer extends SparkListener {
    case class J(id: Int, desc: String, start: Long)
    private val inflight = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double)]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val d = Option(js.properties.getProperty("spark.job.description")).getOrElse("")
      inflight.put(js.jobId, J(js.jobId, d, js.time))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val j = inflight.remove(je.jobId)
      if (j != null) done.add((j.id, j.desc, (je.time - j.start) / 1e3))
    }
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double, Double, Double, Long)]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield (a - b) / 1e3).getOrElse(-1.0)
      val m = i.taskMetrics
      stages.add((i.stageId, i.name.take(80), wall, m.executorRunTime / 1e3,
        m.jvmGCTime / 1e3, i.numTasks.toLong))
    }
    def reset(): Unit = { done.clear(); stages.clear() }
    def dump(label: String): Unit = {
      val js = done.asScala.toSeq.sortBy(_._1)
      println(f"[qprof] --- jobs for $label: n=${js.size}, sum=${js.map(_._3).sum}%.2f s")
      js.foreach { case (id, d, s) => if (s > 0.2) println(f"[qprof]   job $id%4d $s%6.2f s  $d") }
      val ss = stages.asScala.toSeq.sortBy(_._1)
      println(f"[qprof] --- stages for $label: n=${ss.size}, wallSum=${ss.map(_._3).sum}%.2f s, " +
        f"taskTimeSum=${ss.map(_._4).sum}%.2f s, gcSum=${ss.map(_._5).sum}%.2f s")
      ss.foreach { case (id, n, w, tt, gc, nt) =>
        if (w > 0.2) println(f"[qprof]   stage $id%4d wall=$w%6.2f tt=$tt%7.2f gc=$gc%5.2f tasks=$nt%3d  $n") }
    }
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    if (name == "entry") (s, _) => SparkEntry.entry(s) else SparkEntry.queries(name)

  /** Profiles each named query on `spark` and leaves the session running;
    * returns the number of jobs each query's profiled run recorded. */
  def profile(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Map[String, Int] = {
    Files.createDirectories(Paths.get(outDir))
    val timer = new JobTimer
    spark.sparkContext.addSparkListener(timer)
    try names.map { n =>
      val fn = query(n)
      def run(planFile: Boolean): (Double, Double, Double) = {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        if (planFile) Files.writeString(Paths.get(outDir, s"$n.txt"),
          df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
      run(planFile = true)
      Thread.sleep(200) // drain listener bus
      timer.reset()
      val (tBuild, tPlan, tExec) = run(planFile = false)
      Thread.sleep(500)
      println(f"[qprof] $n: build $tBuild%.2f + plan $tPlan%.2f + exec $tExec%.2f s")
      timer.dump(n)
      n -> timer.done.size
    }.toMap
    finally spark.sparkContext.removeSparkListener(timer)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryProfile <sfDir> <outDir> [q…]")
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.start()
    profile(spark, args(0), args(1), names)
    spark.stop()
  }
}
