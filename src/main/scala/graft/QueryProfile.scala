package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-job profile of one or more named bench queries (measurement harness,
  * guide §1: find WHERE a multi-action query spends its time before touching
  * it). Runs each named query `SPARK_GRAFT_PROFILE_RUNS` times (default 2 —
  * run 1 pays session-scoped artifact builds, run 2 is the steady state the
  * bench's min-of-n reports) and prints, for the LAST run, one line per
  * Spark job: wall ms, stage count, task count, and the job group /
  * description if set. Total job wall vs query wall exposes driver-side gaps
  * (planning, artifact stamp checks, commit bookkeeping).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosFlag, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())

    case class Job(id: Int, desc: String, t0: Long,
        var wallMs: Long = -1, var stages: Int = 0, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the deepest graft frame of the submitting call site names the
        // engine phase; fall back to the stage name
        val long = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.long"))).getOrElse("")
        val graftFrame = long.split('\n')
          .find(l => l.contains("graft.") && !l.contains("QueryProfile"))
          .map(_.trim).getOrElse("")
        val desc =
          if (graftFrame.nonEmpty) graftFrame.take(140)
          else js.stageInfos.map(_.name.takeWhile(_ != '\n'))
            .mkString(" | ").take(140)
        jobs.put(js.jobId, Job(js.jobId, desc, js.time))
        order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach(j => j.wallMs = je.time - j.t0)
      }
    }
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 until runs).foreach { _ => fn(spark, sfDir).count() } // warm / artifacts
      jobs.clear(); order.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e6
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // let listener events drain
      println(s"########## $name rows=$n wall=${wall.round}ms ##########")
      var sum = 0L
      order.forEach { id =>
        val j = jobs.get(id)
        sum += math.max(j.wallMs, 0)
        println(f"  job ${j.id}%4d ${j.wallMs}%6d ms  ${j.desc.take(90)}")
      }
      println(s"  jobs=${order.size} sumJobMs=$sum driverGapMs=${(wall - sum).round}")
    }
    spark.stop()
  }
}
