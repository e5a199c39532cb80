package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FormattedMode

/** Profile ONE gate: print its formatted physical plan, run it once
  * untimed (JIT and first-job setup), then once under a listener,
  * printing per-job wall time, stage and task counts and shuffle bytes
  * — the "where does the time go" view the disabled UI would otherwise
  * give. `key=value` args after the sfDir set runtime SQL confs on the
  * session first, for A/B runs of a conf. Gates that stream or write
  * artifacts run those steps while their plan is built, before it is
  * printed. `SCOPE released=<n> eager=<m>` counts the profiled run's
  * released frames and eager holds (warms and checkpoints).
  * Usage: runMain graft.tools.JobProfile <gate> [sfDir] [key=value ...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local("job-profile", cpus)
    args.drop(2).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    val fn = graft.SparkEntry.queries(name)

    final case class JobRow(id: Int, var start: Long = 0L,
                            var end: Long = 0L, var stages: Int = 0,
                            var tasks: Int = 0,
                            var shufRead: Long = 0L,
                            var shufWrite: Long = 0L,
                            var desc: String = "")
    val jobs = mutable.LinkedHashMap[Int, JobRow]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = JobRow(e.jobId, start = e.time)
        r.stages = e.stageIds.size
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs.synchronized { jobs(e.jobId) = r }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.getOrElse(e.stageId, -1)
        jobs.synchronized {
          jobs.get(jid).foreach { r =>
            r.tasks += 1
            val m = e.taskMetrics
            if (m != null) {
              r.shufRead += m.shuffleReadMetrics.totalBytesRead
              r.shufWrite += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
      }
    }

    // one untimed warm run so JIT/first-job setup doesn't pollute the
    // second run's job profile; its plan is the one printed
    graft.Scope.run {
      val warm = fn(spark, dir)
      println(warm.queryExecution.explainString(FormattedMode))
      warm.write.format("noop").mode("overwrite").save()
    }

    spark.sparkContext.addSparkListener(listener)
    val (released0, eager0) = graft.Scope.tally
    val t0 = System.nanoTime()
    val dt = graft.Scope.run {
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.removeSparkListener(listener)
    val (released1, eager1) = graft.Scope.tally

    println(f"PROFILE $name total=$dt%.2f s, jobs=${jobs.size}")
    println(s"SCOPE released=${released1 - released0} " +
      s"eager=${eager1 - eager0}")
    var acct = 0.0
    jobs.values.toSeq.sortBy(_.start).foreach { r =>
      val sec = math.max(0L, r.end - r.start) / 1e3
      acct += sec
      println(f"  job ${r.id}%3d  ${sec}%6.2f s  stages=${r.stages}%2d " +
        f"tasks=${r.tasks}%4d  shufR=${r.shufRead / 1024}%6d KiB " +
        f"shufW=${r.shufWrite / 1024}%6d KiB  ${r.desc.take(60)}")
    }
    println(f"  sum(job wall)=$acct%.2f s (gaps = driver/planning time)")
    spark.stop()
  }
}
