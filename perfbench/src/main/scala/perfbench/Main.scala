package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Closed-loop harness for one workload. It records raw events only: every
  * execution's timestamps, every job with its task metrics, every
  * planning-phase and micro-batch record, memo build times and (with
  * `--trace 1`) spans. `perfbench/run.py` turns them into metrics.
  *
  * Protocol: one client thread; a warm pass over the workload's queries
  * writes each full result as parquet (the output check reads these) and
  * fills the memo and codegen caches; then `--passes` timed passes run.
  * Each pass runs the queries in an order shuffled by `--seed`. A timed
  * execution is the call into `Q.fn` plus a `noop` write of the whole
  * result.
  *
  * Usage: perfbench.Main --workload W --data DIR
  *   --out DIR --scratch DIR --seed N --passes N --trace 0|1 --cpus N
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opt("workload"))
    val dataDir = opt("data")
    val outDir = opt("out")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val passCount = opt("passes").toInt
    val modules = workload.modules

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", workload.width.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opt("scratch")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opt("scratch")}/warehouse")
      .config("spark.graft.scratchRoot", s"${opt("scratch")}/graft")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val execL = new ExecListener
    val planL = new PlanListener
    val streamL = new StreamListener
    spark.sparkContext.addSparkListener(execL)
    spark.listenerManager.register(planL)
    spark.streams.addListener(streamL)

    val queries = modules.flatMap { case (m, qs) => qs.map(m -> _) }
    def order(pass: Int): Seq[(String, graft.queries.Q)] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    var nextSpan = 0L
    def span(name: String, start: Double, end: Double, parent: Long,
        exec: Long): Long = {
      nextSpan += 1
      spans += Map("id" -> nextSpan, "name" -> name, "start" -> start,
        "end" -> end, "parent" -> parent, "exec" -> exec)
      nextSpan
    }

    /** One execution: build the frame through `Q.fn`, then materialise
      * every row and column of it. */
    def execute(module: String, q: graft.queries.Q, pass: Int,
        traced: Boolean, sink: org.apache.spark.sql.DataFrame => Unit)
        : Unit = {
      val exec = execs.size.toLong
      val start = Clock.now()
      var built = Double.NaN
      var error: String = null
      try {
        val df = q.fn(spark, dataDir)
        built = Clock.now()
        sink(df)
      } catch {
        case t: Throwable =>
          val root = Iterator.iterate(t)(_.getCause)
            .takeWhile(_ != null).toSeq.last
          error = (s"${t.getClass.getName}: ${t.getMessage}; root cause " +
            s"${root.getClass.getName}: ${root.getMessage}").take(500)
          System.err.println(s"[perfbench] ${q.name} failed")
          t.printStackTrace()
      }
      val end = Clock.now()
      if (built.isNaN) built = end
      execs += Map("exec" -> exec, "pass" -> pass, "query" -> q.name,
        "module" -> module, "start" -> start, "built" -> built,
        "end" -> end, "ok" -> (error == null), "error" -> error)
      if (traced) {
        val root = span("query", start, end, 0L, exec)
        span("queries.build", start, built, root, exec)
        span("exec.run", built, end, root, exec)
      }
    }

    val memoBefore = graft.plans.FrameMemo.buildTimes
    // the warm pass writes full results to parquet for the output check
    order(0).foreach { case (m, q) =>
      execute(m, q, 0, traced = false,
        _.write.mode("overwrite").parquet(s"$outDir/results/${q.name}"))
    }
    val setupEnd = Clock.now()
    val memoWarm = graft.plans.FrameMemo.buildTimes

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var pass = 1
    while (pass <= passCount) {
      // with tracing on, the first pass runs untraced while the JIT
      // settles, then passes run untraced, traced, traced, untraced, ...
      // so the tracing overhead is measured inside the same run and a
      // steady warm-up trend cancels out of it
      val traced = trace && pass > 1 && Set(1, 2).contains((pass - 2) % 4)
      val start = Clock.now()
      order(pass).foreach { case (m, q) =>
        execute(m, q, pass, traced,
          _.write.format("noop").mode("overwrite").save())
      }
      passes += Map("pass" -> pass, "start" -> start, "end" -> Clock.now(),
        "traced" -> traced)
      pass += 1
    }
    val memoTimed = graft.plans.FrameMemo.buildTimes

    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
    val cachedBytes = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    // the same last action in every run, so what the heap still holds
    // does not depend on which query the seed ordered last; then two
    // collections around a pause for the context cleaner
    spark.range(1).write.format("noop").mode("overwrite").save()
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapUsed = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed

    val raw = Map[String, Any](
      "workload" -> workload.name, "width" -> workload.width,
      "trace" -> trace, "spark_version" -> spark.version,
      "jvm" -> System.getProperty("java.version"), "setup_end" -> setupEnd,
      "modules" -> modules.map { case (m, qs) =>
        Map("module" -> m, "queries" -> qs.map(_.name)) },
      "all_modules" -> Workloads.all.flatMap(_.registries.map(_._1)),
      "oracle_sql" -> queries.collect {
        case (_, graft.queries.Q(n, _, Some(sql))) => n -> sql }.toMap,
      "execs" -> execs.toList, "passes" -> passes.toList,
      "jobs" -> execL.snapshot(), "plans" -> planL.snapshot(),
      "batches" -> streamL.snapshot(), "spans" -> spans.toList,
      "memo_before" -> memoBefore, "memo_warm" -> memoWarm,
      "memo_timed" -> memoTimed,
      "cached_bytes" -> cachedBytes, "heap_used_bytes" -> heapUsed)
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(s"$outDir/raw.json"), raw)
  }
}
