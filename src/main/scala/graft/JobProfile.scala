package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: per-JOB wall-clock breakdown of a named query under the
  * Bench harness (same session, warm-up, noop sink and isolation). Runs
  * the query `reps` times (first runs warm caches/JIT), then prints the
  * job list of the LAST run with durations — the measure-first view the
  * guide §1 asks for when a row's time is spread over many driver
  * actions rather than one stage. Usage:
  *   JobProfile <sfDir> <reps> <queryName>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val query = Harness.select(Some(args(2))).head.query
    val spark = Harness.session(Harness.envCpus, "ERROR")
    Bench.warmUp(spark, sfDir)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(_.name)).getOrElse("")
        starts.put(js.jobId, (js.time, desc.take(120)))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          rows.add((je.jobId, je.time - t0, desc))
        }
      }
    }
    (1 to reps).foreach { i =>
      if (i == reps) {
        spark.sparkContext.addSparkListener(listener)
      }
      val t0 = System.nanoTime()
      Harness.noop(query(spark, sfDir))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"RUN $i%d total=$dt%.2fs")
      Harness.isolate(spark)
    }
    // let the listener bus drain
    Thread.sleep(1000)
    import scala.jdk.CollectionConverters._
    val all = rows.asScala.toSeq.sortBy(_._1)
    // inter-job gap (driver-side planning/commit work) rides along: the
    // difference between this job's start and the previous job's end
    var prevEnd = 0L
    var gapSum = 0L
    all.foreach { case (id, ms, desc) =>
      val st = starts.get(id)._1
      val gap = if (prevEnd == 0L) 0L else (st - prevEnd).max(0L)
      gapSum += gap
      prevEnd = st + ms
      println(f"JOB $id%4d ${ms / 1000.0}%7.3fs gap=${gap / 1000.0}%6.3fs  $desc")
    }
    println(f"JOBS n=${all.size} sum=${all.map(_._2).sum / 1000.0}%.3fs " +
      f"gaps=${gapSum / 1000.0}%.3fs")
    spark.stop()
  }
}
