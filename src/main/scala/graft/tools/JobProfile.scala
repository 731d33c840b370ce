package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** r15 optimization probe: per-JOB wall-time breakdown of a registered
  * query. Runs each named query once untimed (warm: memo builds, JIT)
  * and once timed with a listener recording every job's duration, task
  * count and job group/description — the driver-sequenced chains (the
  * ingest family) decompose into dozens of small jobs, and this shows
  * which of them carry the seconds. Output: one line per job of the
  * timed run, plus a total and the number of generated classes the
  * timed run compiled (`CodegenMetrics.METRIC_COMPILATION_TIME`).
  *
  * A job's tasks are those of the stages it RAN: each completed stage is
  * counted once, for the lowest-id job that lists it (the one that
  * submitted it; a later job listing it skips it). Counting the stages a
  * job lists at start instead depends on timing for AQE stage jobs,
  * whose lists differ between runs of the same plan.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class J(id: Int, t0: Long, desc: String)
    val live = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val doneJobs =
      new java.util.concurrent.ConcurrentLinkedQueue[(J, Double)]()
    // stage id -> the collected job that runs it (the lowest id listing
    // it); job id -> tasks of its completed, successful stages
    val owner = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val ran = scala.collection.concurrent.TrieMap.empty[Int, Int]
    @volatile var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting) {
          e.stageIds.foreach(st => owner.updateWith(st)(
            o => Some(o.fold(e.jobId)(math.min(_, e.jobId)))))
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse(e.stageInfos.map(_.name).mkString(" | ").take(200))
          live.put(e.jobId, J(e.jobId, System.nanoTime(), d))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val st = e.stageInfo
        owner.get(st.stageId).filter(_ => st.failureReason.isEmpty)
          .foreach(j => ran.updateWith(j)(n => Some(n.sum + st.numTasks)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = live.remove(e.jobId)
        if (j != null)
          doneJobs.add((j, (System.nanoTime() - j.t0) / 1e9))
      }
    })

    val fns = graft.SparkEntry.queries
    // args are processed IN ORDER: conf:k=v flips session conf for the
    // queries that follow it, so one JVM can A/B a knob
    args.foreach {
      case c if c.startsWith("conf:") =>
        val Array(k, v) = c.stripPrefix("conf:").split("=", 2)
        spark.conf.set(k, v)
        println(s"[profile] conf $k=$v")
      case n =>
      // warm (memo builds, codegen) — not collected
      try fns(n)(spark, sfDir).count()
      catch { case t: Throwable => println(s"[profile] $n warm FAILED: $t") }
      doneJobs.clear(); live.clear(); owner.clear(); ran.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      collecting = true
      val t0 = System.nanoTime()
      fns(n)(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      collecting = false
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount -
        compiles0
      Thread.sleep(200) // let trailing JobEnd events drain
      import scala.jdk.CollectionConverters._
      val js = doneJobs.asScala.toSeq.sortBy(_._1.id)
      def tasks(j: J): Int = ran.getOrElse(j.id, 0)
      println(s"==== $n total=${f"$total%.3f"}s " +
        s"jobs=${js.size} tasks=${js.map(j => tasks(j._1)).sum} " +
        s"compiles=$compiles ====")
      js.foreach { case (j, sec) =>
        println(f"[job] id=${j.id}%4d ${sec}%7.3f s tasks=${tasks(j)}%4d " +
          s"${j.desc.take(140)}")
      }
      println(f"[profile] $n sum_job_secs=${js.map(_._2).sum}%.3f " +
        f"(driver gaps = total - sum when sequential)")
    }
    spark.stop()
  }
}
