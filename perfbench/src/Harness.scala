package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload, in one JVM, as a closed loop with a
  * single client: each query is submitted only after the previous one has
  * finished. The run
  *  1. sets up `Setups` times: a fresh session plus one unmeasured pass
  *     that writes every query's result as parquet, for the verification
  *     against the references done by `verify.py`;
  *  2. runs `seconds / Workload.passSeconds` measured passes (at least
  *     two) over the workload's mix, in a seed-shuffled order per pass
  *     (when traced, traced and untraced passes alternate).
  * It writes raw timings (and, traced, the listener's records) as one JSON
  * file; every metric is computed from that file by `metrics.py`.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir>
  */
object Harness {
  val QueryProp = "perfbench.query"
  val PhaseProp = "perfbench.phase"
  private val QueryTimeoutS = 60L
  private val Setups = 3

  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same base as the listener's event times.
    */
  def now(): Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def newSession(cores: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config(graft.Tables.eventsConf._1, graft.Tables.eventsConf._2)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Between queries, as `graft.Bench` does between reps: drop cached
    * frames and operator-internal caches, and the memory-sink views the
    * streaming replays leave behind.
    */
  def clean(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.pipeline.InternalCaches.release()
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** Bytes and entries under `dir` whose top-level name starts with
    * `prefix` (every entry for an empty prefix).
    */
  def footprint(dir: Path, prefix: String = ""): (Long, Long) =
    if (!Files.isDirectory(dir)) (0L, 0L) else {
      val top = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSeq
      val bytes = top.map { p =>
        try Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
        catch { case scala.util.control.NonFatal(_) => 0L }
      }.sum
      (bytes, top.size.toLong)
    }

  /** Exits with 0 only when the run completed: a failure anywhere must end
    * the JVM, whose Spark and worker threads would otherwise keep it alive.
    */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, runDir) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    // the CPUs this process may run on (it follows the affinity mask)
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workloads.all.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.all.keys.mkString(", ")}"))
    val queries = wl.queries
    // at least two: a median of more than one, and (traced) one pass of each kind
    val nPasses = math.max(2, math.round(secondsS.toDouble / wl.passSeconds).toInt)
    val pool = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    }
    val records = ArrayBuffer.empty[String]
    val failures = ArrayBuffer.empty[String]
    var attempted = 0

    /** Build, plan and execute (`write`) one query on the client thread,
      * with the phase stamped on its jobs. Returns the phase boundaries or
      * the error.
      */
    def execute(spark: SparkSession, q: Query, write: DataFrame => Unit)
        : Either[String, Array[Double]] = {
      attempted += 1
      val task = pool.submit(() => {
        SparkSession.setActiveSession(spark)
        val sc = spark.sparkContext
        sc.setLocalProperty(QueryProp, q.name)
        val b0 = now()
        sc.setLocalProperty(PhaseProp, "build")
        val df = q.build(spark, dataDir)
        val b1 = now()
        sc.setLocalProperty(PhaseProp, "plan")
        df.queryExecution.executedPlan
        val b2 = now()
        sc.setLocalProperty(PhaseProp, "exec")
        write(df)
        val b3 = now()
        sc.setLocalProperty(PhaseProp, null)
        Array(b0, b1, b2, b3)
      })
      try Right(task.get(QueryTimeoutS, TimeUnit.SECONDS))
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelAllJobs(); task.cancel(true)
          Left(s"timed out after $QueryTimeoutS s")
        case e: java.util.concurrent.ExecutionException =>
          Left(String.valueOf(e.getCause).linesIterator.nextOption().getOrElse("error"))
      }
    }
    val noop: DataFrame => Unit =
      _.write.format("noop").mode("overwrite").save()

    def runPass(spark: SparkSession, passNo: Int, kind: String,
                write: (Query, DataFrame) => Unit = (_, df) => noop(df)): (Double, Double) = {
      val order = new scala.util.Random(seed * 7919 + passNo).shuffle(queries)
      val c0 = cpuSeconds()
      val w0 = now()
      order.foreach { q =>
        clean(spark)
        execute(spark, q, df => write(q, df)) match {
          case Right(ts) =>
            records += Json.obj("pass" -> passNo.toString, "kind" -> Json.str(kind),
              "query" -> Json.str(q.name), "t" -> Json.arr(ts.map(Json.num)))
          case Left(err) =>
            failures += s"$kind pass $passNo ${q.name}: $err"
            records += Json.obj("pass" -> passNo.toString, "kind" -> Json.str(kind),
              "query" -> Json.str(q.name), "error" -> Json.str(err))
        }
      }
      (now() - w0, cpuSeconds() - c0)
    }

    // 1. set-ups: each a fresh session and one pass that writes every
    // result for verification; the first also pays the JVM start
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val setups = ArrayBuffer.empty[Double]
    val setupCompiles = ArrayBuffer.empty[Long]
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      if (spark != null) { clean(spark); spark.stop() }
      val s0 = if (k == 0) jvmStart else now()
      val cg0 = codegen.getCount
      spark = newSession(cores, runDir)
      runPass(spark, -1 - k, "setup",
        (q, df) => df.write.mode("overwrite").parquet(s"$runDir/out/setup$k/${q.name}"))
      setups += (now() - s0) / 1000.0
      setupCompiles += codegen.getCount - cg0
    }

    // 2. measured passes
    val tracer = new Tracer
    if (trace) spark.sparkContext.addSparkListener(tracer)
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val passes = ArrayBuffer.empty[String]
    for (passNo <- 0 until nPasses) {
      // odd passes: pass times drift up through a run, and against the
      // even passes around them the traced ones sit mid-drift
      val traced = trace && passNo % 2 == 1
      tracer.pass = passNo
      tracer.enabled = traced
      val start = now()
      val (wall, cpu) = runPass(spark, passNo, if (traced) "traced" else "measured")
      org.apache.spark.perfbench.Internals.drainListenerBus(spark.sparkContext)
      tracer.enabled = false
      clean(spark)
      // two full GCs around a pause that lets the context cleaner drop the
      // blocks and broadcasts the first one found unreachable
      System.gc(); Thread.sleep(200); System.gc()
      val heap = oldGen.map(_.getUsage.getUsed).getOrElse(0L)
      val (replayBytes, replayDirs) = footprint(tmp, "graft_")
      val (stageBytes, stageDirs) = footprint(Paths.get(s"$runDir/stage"))
      val (localBytes, _) = footprint(Paths.get(s"$runDir/local"))
      passes += Json.obj("pass" -> passNo.toString, "traced" -> traced.toString,
        "start" -> Json.num(start), "wall_ms" -> Json.num(wall), "cpu_s" -> Json.num(cpu),
        "heap_old_bytes" -> heap.toString,
        "tmp_graft" -> s"[$replayBytes,$replayDirs]", "staging" -> s"[$stageBytes,$stageDirs]",
        "local_dirs_bytes" -> localBytes.toString)
    }

    val oracles = queries.map(q => q.name -> q.oracle.map(Json.str).getOrElse("null"))

    val out = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "cores" -> cores.toString,
      "queries" -> Json.arr(queries.map(q => Json.str(q.name))),
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "setup_codegen_compiles" -> Json.arr(setupCompiles.map(_.toString)),
      "passes" -> Json.arr(passes), "executions" -> Json.arr(records),
      "attempted" -> attempted.toString, "failures" -> Json.arr(failures.map(Json.str)),
      "oracles" -> Json.obj(oracles: _*),
      "jobs" -> Json.arr(tracer.jobs), "stages" -> Json.arr(tracer.stages),
      "tasks" -> Json.arr(tracer.tasks), "batches" -> Json.arr(tracer.batches),
      "cache" -> Json.arr(tracer.cache))
    Files.writeString(Paths.get(s"$runDir/records.json"), out)
    pool.shutdownNow()
    spark.stop()
  }
}
