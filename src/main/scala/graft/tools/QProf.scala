package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import scala.collection.mutable

/** Per-query wall-time decomposition and plans (optimization-round
  * measurement tool, guide §1): where does a declared query's bench
  * time GO at sf0.1 — query construction (driver-side work run eagerly
  * while the DataFrame is being built: localCheckpoint jobs, catalog
  * ops, stored-index writes), the timed noop action's jobs, and the
  * DRIVER GAPS between jobs (planning/optimizing, codegen, commit)?
  *
  * For each job: duration, stage count, task count, summed executor
  * run time (so `duration × cores ÷ taskRun` reads as parallelism).
  *
  * Per query it also prints the formatted physical plan (with shuffle
  * and broadcast counts) before the first timed action, and after the
  * last run the FINAL adaptive plan — AQEShuffleRead coalesced
  * partition counts and runtime join rewrites, which `explain` cannot
  * show before execution (guide §7.2).
  *
  * Usage: runMain graft.tools.QProf <sfDir> <query...|ALL>
  * Runs each query TWICE (cold then warm) — compare decompositions.
  */
object QProf {
  private case class Job(id: Int, t0: Long, var t1: Long = 0L,
                         var stages: Int = 0, var tasks: Int = 0,
                         var taskRunMs: Long = 0L, group: String = "",
                         var site: String = "")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.drop(1).sameElements(Array("ALL")))
        graft.SparkEntry.queries.keys.toSeq.sorted
      else args.drop(1).toSeq
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val jobs = mutable.LinkedHashMap[Int, Job]()
    // stageId → jobId, from JobStart's declared stage set: exact
    // attribution even when jobs run CONCURRENTLY (thread-submitted
    // table writes, overlapped legs) — the previous "last open job"
    // heuristic attached concurrent jobs' stages to whichever job
    // happened to start last
    val stageJob = mutable.HashMap[Int, Int]()
    var phase = ""
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val site = Option(js.properties)
          .map { p =>
            val cs = Option(p.getProperty("callSite.short")).getOrElse("")
            val eid = Option(p.getProperty("spark.sql.execution.id")).getOrElse("-")
            val root = Option(p.getProperty("spark.sql.execution.root.id")).getOrElse("-")
            s"eid=$eid/$root ${cs.replaceAll("\\s+", " ")}"
          }.getOrElse("")
        jobs(js.jobId) = Job(js.jobId, js.time, group = phase, site = site)
        js.stageIds.foreach(sid => stageJob(sid) = js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(je.jobId).foreach(_.t1 = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = jobs.synchronized {
        stageJob.get(sc.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
          if (j.site.isEmpty) j.site = sc.stageInfo.name.replaceAll("\\s+", " ")
          j.stages += 1
          j.tasks += sc.stageInfo.numTasks
          j.taskRunMs += sc.stageInfo.taskMetrics.executorRunTime
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val nRuns = sys.env.getOrElse("SPARK_GRAFT_QPROF_RUNS", "2").toInt.max(1)
      (1 to nRuns).foreach { run =>
        jobs.synchronized { jobs.clear(); stageJob.clear() }
        spark.catalog.clearCache()
        phase = "construct"
        val c0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val c1 = System.nanoTime()
        if (run == 1) {
          val plan = df.queryExecution.explainString(FormattedMode)
          val exchanges = "Exchange".r.findAllIn(plan).size
          val broadcasts = "BroadcastExchange".r.findAllIn(plan).size
          println(s"\n========== $n formatted plan ==========\n$plan")
          println(s"--- shuffles=${exchanges - broadcasts} broadcasts=$broadcasts")
        }
        phase = "action"
        val a0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val c2 = System.nanoTime()
        spark.sparkContext.removeSparkListener(listener) // settle
        spark.sparkContext.addSparkListener(listener)
        val constructS = (c1 - c0) / 1e9
        val actionS = (c2 - a0) / 1e9
        println(f"%nQPROF $n run$run total=${constructS + actionS}%.3f construct=$constructS%.3f action=$actionS%.3f")
        val js = jobs.synchronized(jobs.values.toSeq.sortBy(_.t0))
        var prevEnd = 0L
        var jobSum = 0L; var gapSum = 0L
        js.foreach { j =>
          val dur = j.t1 - j.t0
          val gap = if (prevEnd == 0L) 0L else (j.t0 - prevEnd).max(0L)
          prevEnd = j.t1
          jobSum += dur; gapSum += gap
          println(f"  job ${j.id}%3d [${j.group}%9s] dur=${dur / 1000.0}%7.3f gap_before=${gap / 1000.0}%7.3f stages=${j.stages}%2d tasks=${j.tasks}%4d taskRun=${j.taskRunMs / 1000.0}%8.3f  ${j.site.take(60)}")
        }
        println(f"  SUM jobs=${jobSum / 1000.0}%.3f inter-job-gaps=${gapSum / 1000.0}%.3f (wall not in jobs = driver planning/codegen/commit)")
        if (run == nRuns) {
          // the noop write wraps the plan in its own QueryExecution, so
          // execute the df's own tree (collect — results are small at test
          // SF) to drive ITS AdaptiveSparkPlanExec to the final plan
          phase = "final-plan"
          df.collect()
          val finalPlan = df.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan.treeString
            case p => p.treeString
          }
          println(s"\n========== $n final plan ==========\n${finalPlan.take(20000)}")
        }
      }
    }
    spark.stop()
  }
}
