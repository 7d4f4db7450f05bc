package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.TextOps

/** The benchmark's JVM side. Starts one `local[4]` session, sets up (a
  * warm-up op of every kind, which builds the memoized artifacts and warms
  * the JIT) and runs the closed-loop timed window for `--seconds`. With
  * `--trace 1` half the window's ops are traced, and two more set-ups
  * follow, untraced and traced. Writes everything measured to
  * `--out/result.json`; the Python side (`run.py`) turns it into metrics
  * and runs the oracle check.
  *
  * Usage: perfbench.Main --workload NAME --data DIR --out DIR
  *          --seconds S --trace 0|1 [--requests FILE]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val outDir = opts("out")
    val cores = 4
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val result = new Main(spark, opts, cores).run()
      Files.write(Paths.get(outDir, "result.json"),
        Json.render(result + ("session_s" -> sessionS)).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** JVM heap in use after a full GC, in MB. Spark frees the blocks
    * of unreachable RDDs and shuffles asynchronously after a GC finds
    * them, so collect until the figure stops falling.
    */
  def heapRetainedMb(): Double = {
    def usedAfterGc(): Long = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = Long.MaxValue
    var cur = usedAfterGc()
    var rounds = 1
    while (cur < prev && rounds < 5) { prev = cur; cur = usedAfterGc(); rounds += 1 }
    math.min(prev, cur) / 1048576.0
  }
}

final class Main(spark: SparkSession, opts: Map[String, String], cores: Int) {
  import Main._

  private val workload = Workload(opts("workload"), spark, opts("data"),
    s"${opts("out")}/work", readRequests(opts.get("requests")))
  private val opIds = new AtomicLong(0)
  /** The first warm-up output per kind; every later output must match. */
  private val reference = mutable.LinkedHashMap.empty[String, OpOut]
  private val sinkChecks = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Every set-up op: attempted ops the timed windows do not list. */
  private val warmupOps = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def readRequests(path: Option[String]): IndexedSeq[IndexedSeq[String]] =
    path.map { p =>
      import org.json4s._
      implicit val formats: Formats = DefaultFormats
      org.json4s.jackson.JsonMethods.parse(new String(
        Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8))
        .extract[List[List[String]]].map(_.toIndexedSeq).toIndexedSeq
    }.getOrElse(IndexedSeq.empty)

  def run(): Map[String, Any] = {
    val sc = spark.sparkContext
    val tracing = opts.getOrElse("trace", "0") == "1"
    val off = new Tracer(sc, enabled = false)
    val on = new Tracer(sc, enabled = tracing)
    val (warmS, _) = setup(off, fresh = false)
    val cachedBytes = storedBytes()
    val listener = new ExecListener
    if (tracing) sc.addSparkListener(listener)
    // traced runs trace ops in an ABBA pattern per client, so traced and
    // untraced ops sit at the same mean position of the warm-up curve
    val plain = window(opts("seconds").toDouble,
      (c, i) => if (Set(1, 2)((c + i) % 4)) on else off)
    var out = Map[String, Any](
      "setup_warmup_s" -> warmS,
      "cached_bytes" -> cachedBytes,
      "window" -> plain,
      "heap_retained_mb" -> heapRetainedMb())
    if (tracing) {
      // set-up and heap overhead: a fresh untraced set-up against a
      // fresh traced one, both after the window has warmed the JIT
      val (freshS, _) = setup(off, fresh = true)
      val freshHeap = heapRetainedMb()
      val (tracedS, tracedOps) = setup(on, fresh = true)
      val tracedCached = storedBytes()
      val tracedHeap = heapRetainedMb()
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      out += "traced" -> Map(
        "fresh_setup_s" -> freshS,
        "fresh_heap_mb" -> freshHeap,
        "setup_s" -> tracedS,
        "heap_mb" -> tracedHeap,
        "warmup_ops" -> tracedOps,
        "cached_bytes" -> tracedCached,
        "spans" -> on.spans.map(s => Seq(s.id, s.parent, s.op, s.name, s.start, s.end)),
        "jobs" -> listener.jobs.asScala.map { case (j, op, sp) => Seq(j, op.toLong, sp) }.toSeq,
        "stages" -> listener.stages.toSeq.sortBy(_._1).map { case (id, t) => Map(
          "stage" -> id, "op" -> t.op.toLong, "submitted" -> t.submitted,
          "completed" -> t.completed, "tasks" -> t.tasks,
          "failed_tasks" -> t.failedTasks, "run_ms" -> t.runMs,
          "cpu_ns" -> t.cpuNs, "shuffle_read_bytes" -> t.shuffleReadBytes,
          "shuffle_write_bytes" -> t.shuffleWriteBytes,
          "spill_bytes" -> t.spillBytes, "input_bytes" -> t.inputBytes,
          "input_rows" -> t.inputRows, "scan_tasks" -> t.scanTasks,
          "wait_ms" -> t.waitMs, "durations" -> t.durations.toSeq) })
    }
    out ++ Map(
      "references" -> dumpReferences(),
      "warmup_ops" -> warmupOps.toSeq,
      "sink_checks" -> sinkChecks.toSeq,
      "oracle_sql" -> oracleSql,
      "meta" -> Map(
        "spark_version" -> spark.version,
        "cores" -> cores,
        "clients" -> workload.clients,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> System.getProperty("java.version"),
        "available_processors" -> Runtime.getRuntime.availableProcessors))
  }

  /** One set-up: warm every op kind once, on as many threads as the
    * workload has clients; `fresh` first drops the memoized artifacts.
    * A warm-up error is never swallowed: it propagates and fails the run.
    * The first set-up's outputs are the references every later output
    * must match.
    */
  private def setup(tr: Tracer, fresh: Boolean): (Double, Seq[Long]) = {
    if (fresh) { TextOps.release(spark); spark.catalog.clearCache() }
    val t = System.nanoTime()
    val kinds = workload.warmupKinds.map(k => (k, opIds.incrementAndGet()))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workload.clients)
    val outs = try {
      kinds.map { case (kind, id) =>
        pool.submit(() => tr.op(id, kind) { workload.run(tr, kind, id) })
      }.map(f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
    } finally pool.shutdown()
    val elapsed = (System.nanoTime() - t) / 1e9
    kinds.zip(outs).foreach { case ((kind, _), out) =>
      reference.get(kind) match {
        case None => reference(kind) = out
        case Some(ref) => require(ref.fingerprint == out.fingerprint,
          s"warm-up output of $kind changed between set-ups")
      }
      if (out.sinkDir != null) sinkChecks += sinkCheck(kind, out)
    }
    warmupOps ++= kinds.zip(outs).map { case ((kind, id), out) =>
      Map("id" -> id, "kind" -> kind, "sink_dir" -> out.sinkDir) }
    (elapsed, kinds.map(_._2))
  }

  private def sinkCheck(kind: String, out: OpOut): Map[String, Any] =
    Map("oracle" -> workload.oracleName(kind), "dir" -> out.sinkDir,
      "written" -> out.written)

  /** The closed loop: each client sends its next op only after the
    * previous one completed, until `seconds` have passed; `tracerFor`
    * picks the tracer of client c's i-th op. An op that throws or whose
    * output differs from the checked reference counts as failed and
    * contributes no latency sample.
    */
  private def window(seconds: Double, tracerFor: (Int, Int) => Tracer): Map[String, Any] = {
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = (0 until workload.clients).map { c =>
      new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadline) {
          val kind = workload.kindOf(c, i)
          val tr = tracerFor(c, i)
          val id = opIds.incrementAndGet()
          val gc0 = gcMs()
          val t = System.nanoTime()
          val (end, ok, error, out) = try {
            val out = tr.op(id, kind) { workload.run(tr, kind, id) }
            val end = System.nanoTime()
            val ok = out.fingerprint == reference(kind).fingerprint
            (end, ok, if (ok) null else "output differs from the checked reference", out)
          } catch {
            case NonFatal(e) => (System.nanoTime(), false, e.toString, OpOut(null, null))
          }
          if (out.sinkDir != null) synchronized { sinkChecks += sinkCheck(kind, out) }
          recs.add(Map("id" -> id, "client" -> c, "kind" -> kind,
            "traced" -> tr.enabled, "start_ns" -> t, "end_ns" -> end,
            "ms" -> (end - t) / 1e6, "gc_ms" -> (gcMs() - gc0), "ok" -> ok,
            "error" -> error, "sink_dir" -> out.sinkDir, "written" -> out.written))
          i += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val ops = recs.asScala.toSeq.sortBy(_("start_ns").asInstanceOf[Long])
    Map("start_ns" -> start,
      "end_ns" -> ops.map(_("end_ns").asInstanceOf[Long]).foldLeft(start)(math.max),
      "ops" -> ops)
  }

  /** Bytes the block manager holds for persisted data (memo artifacts,
    * lineage cuts), memory plus disk.
    */
  private def storedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Writes each kind's reference page as parquet for the oracle check. */
  private def dumpReferences(): Seq[Map[String, Any]] =
    reference.toSeq.collect { case (kind, out) if out.rows != null =>
      val path = s"${opts("out")}/reference/$kind"
      spark.createDataFrame(java.util.Arrays.asList(out.rows: _*), out.schema)
        .write.mode("overwrite").parquet(path)
      Map("kind" -> kind, "oracle" -> workload.oracleName(kind), "dir" -> path)
    }

  /** The DuckDB mirror SQL of every registered query the run checks. */
  private def oracleSql: Map[String, String] =
    reference.keys.map(workload.oracleName).toSeq.distinct
      .map(n => n -> SparkEntry.oracleSql(n)).toMap
}
