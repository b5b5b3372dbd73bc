package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{GraftSession, SparkEntry}
import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side; `run.py` starts it and reads its stdout.
  *
  * It builds the session with `GraftSession.local(cores)`, warms it with
  * one trivial job and prints `READY`. Then, by `--mode`:
  *  - `setup`: exits (a set-up time sample);
  *  - `run`: closed loop, one key at a time, over passes of the workload.
  *    Each pass calls `SparkEntry.releaseCaches()` and permutes the keys
  *    from `--seed`. Every key is built, fingerprinted over all its
  *    columns and checked against `expected.tsv`. One `KEY` line per key
  *    execution and one `PASS` line per pass; with `--trace 1` each `KEY`
  *    line also carries the key's layer counters (see [[LayerTrace]]);
  *  - `record`: builds every workload key once, writes its result as
  *    parquet under `--out` with the oracle SQL beside it, and prints its
  *    fingerprint as an `EXPECT` line (see `record.py`).
  * It ends with one `END` line: session start time, peak RSS, JVM. */
object Harness {
  private val json = new ObjectMapper()
  private val MB = 1024.0 * 1024.0

  private def emit(tag: String, fields: (String, Any)*): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    println(s"$tag ${json.writeValueAsString(m)}")
  }

  private def ms(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e6

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val data = opt("data")
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    val sessionStartMs = ms(t0)
    spark.range(1).count()
    println("READY")
    opt("mode") match {
      case "setup" => ()
      case "run" => run(spark, Workloads.byName(opt("workload")), data,
        Expected.load(opt("expected")), opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1")
      case "record" => record(spark, data, opt("out"))
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    emit("END", "session.start_ms" -> sessionStartMs, "peak_rss_mb" -> peakRssMb(),
      "cores" -> cores, "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}")
    SparkEntry.releaseCaches()
    spark.stop()
    sys.exit(0)
  }

  private def run(spark: SparkSession, w: Workload, data: String,
                  expected: Map[String, Expected], seed: Long, seconds: Double,
                  traced: Boolean): Unit = {
    val trace = if (traced) Some(new LayerTrace(spark).install()) else None
    val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "perfbench-key"); t.setDaemon(true); t
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Start another pass only while a typical pass still fits the budget;
    // there is always at least one.
    while (passes.isEmpty ||
           System.nanoTime() + passes.sorted.apply(passes.size / 2) * 1e6 <= deadline) {
      val pass = passes.size
      val p0 = System.nanoTime()
      SparkEntry.releaseCaches()
      val releaseMs = ms(p0)
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(w.keys)
      // A failed key is charged the limit instead of the time it took.
      var surcharge = 0.0
      order.foreach { key =>
        val (took, charged) = runKey(spark, w, key, pass, data, expected, trace, pool)
        surcharge += charged - took
      }
      val passMs = ms(p0) + surcharge
      passes += passMs
      emit("PASS", "pass" -> pass, "pass_ms" -> passMs, "release_ms" -> releaseMs)
    }
    pool.shutdownNow()
  }

  /** Runs one key; prints its `KEY` line and returns (took, charged) ms. */
  private def runKey(spark: SparkSession, w: Workload, key: String, pass: Int, data: String, expected: Map[String, Expected],
                     trace: Option[LayerTrace],
                     pool: java.util.concurrent.ExecutorService): (Double, Double) = {
    val sc = spark.sparkContext
    val gc0 = gcMs()
    val persisted0 = sc.getPersistentRDDs.keySet
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var constructMs, keyAnalysisMs = 0.0
    var eagerJobs = 0L
    val fut = pool.submit(new Callable[Fingerprint] {
      def call(): Fingerprint = {
        sc.setJobGroup(key, key, interruptOnCancel = true)
        try {
          val df = Workloads.query(key)(spark, data)
          constructMs = ms(t0)
          trace.foreach { t =>
            eagerJobs = t.jobsSoFar()
            keyAnalysisMs = df.queryExecution.tracker.phases.get("analysis")
              .map(_.durationMs.toDouble).getOrElse(0.0)
          }
          Fingerprint.of(df)
        } finally sc.clearJobGroup()
      }
    })
    val (status, message) =
      try {
        val fp = fut.get(w.limitMs, TimeUnit.MILLISECONDS)
        expected.get(Workloads.checkedAs(key)) match {
          case None => ("wrong", "no verified expected value")
          case Some(e) => e.mismatch(fp).map(m => ("wrong", m)).getOrElse(("ok", ""))
        }
      } catch {
        case _: TimeoutException =>
          sc.cancelAllJobs()
          fut.cancel(true)
          // Let the cancelled key wind down before the next one starts.
          val stop = System.nanoTime() + 60e9.toLong
          while (!fut.isDone && System.nanoTime() < stop) Thread.sleep(50)
          ("timeout", s"over the ${w.limitMs} ms limit")
        case e: ExecutionException =>
          val c = Option(e.getCause).getOrElse(e)
          ("throw", s"${c.getClass.getSimpleName}: ${
            Option(c.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}")
      }
    val took = ms(t0)
    val charged = if (status == "ok") took else w.limitMs.toDouble
    val fields = Seq[(String, Any)]("key" -> key, "pass" -> pass, "status" -> status,
      "write" -> w.writes.contains(key), "ms" -> took, "charged_ms" -> charged,
      "message" -> message)
    val layers = trace.map { t =>
      val a = t.take()
      val wall1 = System.currentTimeMillis()
      val spans = a.taskSpans.map { case (s, e) => (math.max(s, wall0), math.min(e, wall1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var busy = 0L
      var end = wall0
      spans.foreach { case (s, e) => if (e > end) { busy += e - math.max(s, end); end = e } }
      val persisted = sc.getPersistentRDDs.keySet
      val (whBytes, whRows) = warehouseWrites(wall0)
      Seq[(String, Any)](
        "plan.analysis_ms" -> (keyAnalysisMs + a.analysisMs),
        "plan.optimization_ms" -> a.optimizationMs.toDouble,
        "plan.planning_ms" -> a.planningMs.toDouble,
        "entry.construct_ms" -> constructMs,
        "entry.eager_jobs" -> eagerJobs,
        "entry.artifact_builds" -> (persisted -- persisted0).size,
        "entry.persisted_mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB,
        "exec.jobs" -> a.jobs,
        "exec.stages" -> a.stages,
        "exec.driver_gap_ms" -> ((wall1 - wall0) - busy).toDouble,
        "exec.task_run_ms" -> a.taskRunMs.toDouble,
        "exec.task_cpu_ms" -> a.taskCpuNs / 1e6,
        "exec.task_overhead_ms" -> a.taskOverheadMs.toDouble,
        "exec.max_stage_skew" -> a.maxStageSkew,
        "exec.peak_exec_mem_mb" -> a.peakExecMem / MB,
        "tables.scan_tasks" -> a.scanTasks,
        "tables.input_bytes" -> a.inputBytes,
        "tables.max_scan_task_share" -> a.maxScanShare,
        "shuffle.write_bytes" -> a.shuffleWrite,
        "shuffle.read_bytes" -> a.shuffleRead,
        "shuffle.fetch_wait_ms" -> a.fetchWaitMs.toDouble,
        "shuffle.reduce_tasks" -> a.reduceTasks,
        "shuffle.spill_bytes" -> a.spill,
        "sources.write_task_ms" -> a.writeTaskMs.toDouble,
        "sources.output_bytes" -> (a.outputBytes + whBytes),
        "sources.output_rows" -> (a.outputRows + whRows),
        "jvm.gc_ms" -> (gcMs() - gc0).toDouble)
    }.getOrElse(Nil)
    emit("KEY", fields ++ layers: _*)
    (took, charged)
  }

  /** What a key left in the warehouse, which graft keeps under the JVM's
    * temp dir: bytes of every file modified since `sinceMs`, and rows as
    * the lines of the warehouse sink's `.wtsv` data files among them. */
  private def warehouseWrites(sinceMs: Long): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
    try files.iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.lastModified() >= sinceMs)
      .foldLeft((0L, 0L)) { case ((bytes, rows), f) =>
        val lines = if (f.getName.endsWith(".wtsv"))
          java.nio.file.Files.readAllBytes(f.toPath).count(_ == '\n').toLong else 0L
        (bytes + f.length(), rows + lines)
      }
    finally files.close()
  }

  /** Writes each workload key's result and oracle SQL under `out`, and
    * prints its fingerprint, taken both from the live result and from the
    * parquet written (the two must agree for the value to be recorded). */
  private def record(spark: SparkSession, data: String, out: String): Unit = {
    val keys = Workloads.all.filterNot(_ == Workloads.selftest).flatMap(_.keys).distinct
    val oracle = SparkEntry.oracleSql
    keys.foreach { key =>
      try {
        val df = Workloads.query(key)(spark, data)
        val live = Fingerprint.of(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$key")
        val back = Fingerprint.of(spark.read.parquet(s"$out/$key"))
        emit("EXPECT", "key" -> key, "kind" -> (if (oracle.contains(key)) "oracle" else "rows"),
          "rows" -> live.rows, "hash" -> live.hash, "schema" -> live.schema,
          "stable" -> (live.rows == back.rows && live.hash == back.hash))
      } catch {
        case e: Throwable =>
          emit("EXPECT", "key" -> key, "error" -> s"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}")
      }
    }
    val sql = new java.util.TreeMap[String, String]()
    keys.filter(oracle.contains).foreach(k => sql.put(k, oracle(k)))
    json.writeValue(new java.io.File(s"$out/oracle_sql.json"), sql)
  }
}
