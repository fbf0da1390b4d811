package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Csv, Sessions}

/** Drives the engine from outside for one benchmark run.
  *
  * A single driver thread runs the steps named on the command line in
  * a closed loop: passes over the step list until `--seconds` have
  * elapsed (at least one pass). Every step is one call into an engine
  * module's public function (`build`), the planning of the frame it
  * returns (`plan`), and the action that collects its rows to the
  * driver (`exec`). The raw record (spans, step timings, listener
  * counters with `--trace 1`, check inputs) goes to `<out>/run.json`;
  * perfbench/run.py turns it into metrics and runs the checks.
  *
  * Arguments (all required): --steps a,b,c --fixture DIR --out DIR
  * --seed N --seconds S --trace 0|1 --cores N --setups K --dist-iters N. The tweet CSV comes from SPARK_GRAFT_TRAIN_CSV.
  */
object Harness {

  final case class Built(df: Option[DataFrame],
                         info: Map[String, Any] = Map.empty)

  final case class Span(id: Int, parent: Int, name: String,
                        start: Long, end: Long)

  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  private def now: Long = System.nanoTime() - t0Nanos

  private val spans = mutable.ArrayBuffer.empty[Span]
  private def span[A](name: String, parent: Int)(f: Int => A): A = {
    val id = spans.size
    spans += Span(id, parent, name, now, -1L)
    try f(id)
    finally spans(id) = spans(id).copy(end = now)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val steps = opt("steps").split(",").toSeq
    val fixture = opt("fixture")
    val out = opt("out")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores")
    val setups = opt("setups").toInt
    val distIters = opt("dist-iters").toInt
    Files.createDirectories(Paths.get(out))

    val memory = ManagementFactory.getMemoryMXBean
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // Live heap: heap in use after the full collections the harness forces
    // between steps; the peak over all step boundaries. The first
    // collection hands unreachable broadcasts and shuffles to Spark's
    // ContextCleaner, which frees their blocks asynchronously (it polls
    // every 100 ms); the second, after it has had time to run, sees what
    // is really live. One collection alone read 85-260 MB for one workload.
    var peakLive = 0L
    def collect(): Long = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      val live = memory.getHeapMemoryUsage.getUsed
      peakLive = math.max(peakLive, live)
      live
    }
    // Set-up (fresh session, inputs read) is repeated `setups` times so
    // its median is steady; the last session is kept.
    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until setups) span(s"setup#$i", -1) { sid =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val a = now
      spark = span("core.session", sid)(_ => Sessions.local("perfbench", cores))
      sessionS += (now - a) / 1e9
      span("setup.inputs", sid)(_ => warm(spark, fixture, steps))
      setupS += (now - a) / 1e9
    }
    val sc = spark.sparkContext
    val listener = if (trace) Some(new Counters) else None
    listener.foreach(sc.addSparkListener)

    val workload = new Workload(spark, fixture, distIters)
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val keep = sc.getPersistentRDDs.keySet
    def sweep(): (Int, Long) = {
      val left = sc.getPersistentRDDs.filter { case (id, _) => !keep(id) }
      val bytes = sc.getRDDStorageInfo.filter(i => left.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      left.values.foreach(_.unpersist(blocking = true))
      (left.size, bytes)
    }

    val oracle = graft.SparkEntry.oracleSql
    val checks = mutable.LinkedHashMap.empty[String, Any]
    // Pass 0 keeps each oracle-checked step's collected rows and writes
    // them out as a local relation: no recomputation, and no dependence
    // on pins the step's sweep drops. That time is kept out of the
    // window clock.
    var checkNs = 0L
    def writeCheck(id: String, rows: Array[org.apache.spark.sql.Row],
                   schema: org.apache.spark.sql.types.StructType): Unit =
      Workload.entryName(id).filter(oracle.contains).foreach { name =>
        val a = now
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/results/$id")
        checks(id) = Map("oracle_sql" -> oracle(name))
        checkNs += now - a
      }

    val windowStart = now
    var pass = 0
    def elapsed: Double = (now - windowStart - checkNs) / 1e9
    while (pass == 0 || elapsed < seconds) {
      val cpu0 = os.getProcessCpuTime
      span(s"pass#$pass", -1) { pid =>
        steps.foreach { id =>
          val key = s"$pass/$id"
          sc.setJobGroup(key, id, interruptOnCancel = false)
          var error: Option[String] = None
          var collected: Option[(Array[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType)] = None
          val rec = span(id, pid) { sid =>
            val a = now
            var b, c = a
            val rows = try {
              val built = span("build", sid)(_ => workload.build(id))
              b = now
              built.df.foreach(df =>
                span("plan", sid)(_ => df.queryExecution.executedPlan))
              c = now
              // The action collects every output row to the driver, as a
              // caller reading the result would.
              val n = built.df.map { df =>
                val rows = span("exec", sid)(_ => df.collect())
                collected = Some((rows, df.schema))
                rows.length.toLong
              }
              Some((built.info, n.getOrElse(-1L)))
            } catch {
              case e: Exception =>
                error = Some(s"${e.getClass.getName}: ${e.getMessage}")
                System.err.println(s"[perfbench] step $id failed: ${error.get}")
                None
            }
            val d = now
            Map[String, Any]("key" -> key, "pass" -> pass, "step" -> id,
              "start_ns" -> a, "build_ns" -> (b - a), "plan_ns" -> (c - b),
              "exec_ns" -> (d - c), "wall_ns" -> (d - a),
              "rows" -> rows.map(_._2).getOrElse(-1L),
              "info" -> rows.map(_._1).getOrElse(Map.empty),
              "error" -> error)
          }
          sc.clearJobGroup()
          if (pass == 0) collected.foreach { case (rows, schema) =>
            try writeCheck(id, rows, schema)
            catch { case e: Exception =>
              checks(id) = Map("error" -> e.getMessage) }
          }
          // Pins a step leaves behind are counted, then swept blocking so
          // the next step starts clean. Steps of the tweet stack hand
          // their frames to later steps, so their pins are released and
          // counted once at the end of the pass.
          val (pins, pinBytes) =
            if (Workload.sharesPins(id)) (0, 0L) else sweep()
          records += rec ++ Map("leaked_pins" -> pins,
            "leaked_pin_bytes" -> pinBytes, "live_heap_bytes" -> collect())
        }
      }
      workload.endPass()
      val (pins, pinBytes) = sweep()
      records += Map("key" -> s"$pass/_pass_end", "pass" -> pass,
        "step" -> "_pass_end", "leaked_pins" -> pins,
        "leaked_pin_bytes" -> pinBytes,
        "process_cpu_ns" -> (os.getProcessCpuTime - cpu0))
      pass += 1
    }
    val windowEnd = now

    // Untimed from here on: the traced run's yield probes.
    listener.foreach(_ => org.apache.spark.perfbench.ListenerBusAccess.drain(sc))
    val yields =
      if (trace && steps.contains("d03")) workload.yields()
      else Map.empty[String, Any]
    listener.foreach(sc.removeSparkListener)

    val json = Json.enc(Map(
      "fingerprint" -> fingerprint(spark, cores, seed),
      "setup_s" -> setupS, "session_s" -> sessionS,
      "window_ns" -> (windowEnd - windowStart - checkNs),
      "check_ns" -> checkNs, "passes" -> pass,
      "epoch_ms_at_zero" -> t0Millis,
      "records" -> records,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)),
      "jobs" -> listener.map(_.jobs(t0Millis)).getOrElse(Nil),
      "peak_heap_bytes" -> peakLive,
      "checks" -> checks, "results" -> workload.results, "yields" -> yields))
    Files.writeString(Paths.get(s"$out/run.json"), json)
    spark.stop()
  }

  /** Reads the inputs the steps will use, so lazy class loading and the
    * file cache are paid before timing. */
  private def warm(spark: SparkSession, fixture: String,
                   steps: Seq[String]): Unit =
    if (steps.exists(Workload.sharesPins)) Csv.tweets(spark, Csv.TrainCsv).count()
    else Seq("lineitem", "documents").foreach(n =>
      graft.core.Tables.load(spark, fixture, n).count())

  private def fingerprint(spark: SparkSession, cores: String,
                          seed: Long): Map[String, Any] = {
    val memTotal = scala.util.Try(scala.io.Source.fromFile("/proc/meminfo")
      .getLines().find(_.startsWith("MemTotal:")).get
      .split("\\s+")(1).toLong * 1024).getOrElse(-1L)
    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).find(_.startsWith("-Xmx")).getOrElse("")
    Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "mem_total_bytes" -> memTotal,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx" -> xmx, "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "cores_arg" -> cores, "seed" -> seed)
  }

  /** Per-job counters, keyed by the job group the step set. Events are
    * only read after the listener bus has drained. */
  final class Counters extends SparkListener {
    private final class Job(val id: Int, val group: String,
                            val start: Long) {
      var end = -1L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
      var gcMs = 0L; var shufR = 0L; var shufW = 0L; var spill = 0L
      var output = 0L; var waitMs = 0L
    }
    private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Job]
    private val stageSubmit = mutable.Map.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new Job(e.jobId, g, e.time)
      jobsById(e.jobId) = j
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobsById.get(e.jobId).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.waitMs += math.max(0L,
          e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId,
            e.taskInfo.launchTime))
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shufR += m.shuffleReadMetrics.totalBytesRead
          j.shufW += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.output += m.outputMetrics.bytesWritten
        }
      }

    def jobs(epochAtZero: Long): Seq[Map[String, Any]] =
      jobsById.values.toSeq.map { j =>
        Map("id" -> j.id, "group" -> j.group,
          "start_ms" -> (j.start - epochAtZero),
          "end_ms" -> (if (j.end < 0) -1L else j.end - epochAtZero),
          "tasks" -> j.tasks, "executor_run_ms" -> j.runMs,
          "executor_cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
          "shuffle_read_bytes" -> j.shufR, "shuffle_write_bytes" -> j.shufW,
          "spill_bytes" -> j.spill, "output_bytes" -> j.output,
          "sched_wait_ms" -> j.waitMs)
      }
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => enc(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + enc(x) }
        .mkString("{", ",", "}")
    case a: Array[_] => enc(a.toSeq)
    case s: Iterable[_] => s.map(enc).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
