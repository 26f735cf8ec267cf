package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, take the cold op, warm up, then
  * run the workload closed-loop (one driver thread, one op after another)
  * for the given seconds, then time the warm set-ups. Writes raw samples
  * as JSON; `run.py` turns them into metrics and checks the outputs.
  *
  * Arguments are `--key value` pairs: workload, data, work, out, seconds,
  * trace (0|1), cpus, launch-ns (epoch ns at process launch), warm-ops
  * (untimed ops after the cold one), and the workload's parameters
  * (watermark-ms, first-lower-ms, window-ms, queries). */
object Main {
  /** Warm set-ups at the end of a run; setup_s is their median. */
  private val WarmSetups = 5

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val cpus = a("cpus").toInt

    // Set-up: the session, the inputs' schemas, the job's config. The first
    // counts from process launch (JVM start and class loading included) and
    // is reported apart. The warm ones rebuild the session after the
    // workload has run, when the JIT no longer competes with them.
    val tables = workload match {
      case "curate_mix" => Tables.All
      case _ => Seq(ExtractConfig.Table)
    }
    def setup(): SparkSession = {
      val s = session(cpus)
      tables.foreach(t => Tables.table(s, data, t).schema)
      ExtractConfig.resolve(0L)
      s
    }
    var spark = setup()
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("launch_to_ready_s", (epochNanos() - a("launch-ns").toLong) / 1e9)

    val work = Paths.get(a("work"))
    val w: Workload = workload match {
      case "extract_bulk" =>
        new ExtractBulk(spark, data, work, a("watermark-ms").toLong)
      case "extract_delta" =>
        new ExtractDelta(spark, data, work, a("first-lower-ms").toLong,
          a("window-ms").toLong)
      case "curate_mix" =>
        new CurateMix(spark, data, work, a("queries").split(",").toSeq)
    }
    Runner.run(w, spark, a("warm-ops").toInt, a("seconds").toDouble, a("trace") == "1",
      result)
    // What the program still holds once the timed phase ends. VmHWM is
    // recorded too, but G1's heap sizing moves it by up to 2x between runs
    // of the same code; the heap in use after a full GC repeats.
    val heapAfterGc = settledHeapMb()
    result.put("heap_after_gc_mb", heapAfterGc.asJava)
    result.put("heap_live_mb", heapAfterGc.last)
    result.put("outputs", w.outputs().asJava)
    result.put("peak_rss_mb", vmHwmMb())

    val setups = ArrayBuffer.empty[Double]
    for (_ <- 1 to WarmSetups) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = setup()
      setups += (System.nanoTime() - t0) / 1e9
    }
    result.put("setup_s", setups.asJava)
    Files.writeString(Paths.get(a("out")), new ObjectMapper().writeValueAsString(result))
    spark.stop()
  }

  /** Heap in use after full GCs, repeated until it stops shrinking: Spark's
    * ContextCleaner drops broadcast and cached blocks only after a GC has
    * found their owners unreachable, so one GC leaves a varying share of
    * them in the heap. Returns every reading. */
  def settledHeapMb(): Seq[Double] = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val readings = ArrayBuffer(used())
    var shrinking = true
    while (shrinking && readings.size < 10) {
      Thread.sleep(200)
      readings += used()
      shrinking = readings.last < readings(readings.size - 2) * 0.99
    }
    readings.toSeq
  }

  def epochNanos(): Long = {
    val t = Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  /** The fixed Spark settings of every run (same as the catalog bench's,
    * at `local[cpus]`). */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "2097152")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

object Runner {
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(w: Workload, spark: SparkSession, warmOps: Int, seconds: Double,
      trace: Boolean, result: java.util.Map[String, Any]): Unit = {
    def clocked[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    // The cold op and the warm-up must succeed: a failure there ends the run.
    // The warm-up is a fixed count of ops, so every run follows the same
    // JIT trajectory.
    val warmTimes = ArrayBuffer.fill(1 + warmOps)(clocked(w.op())._1)
    val jitWarmMs = jitMs()

    // timed phase: a failed op is counted and the loop goes on
    var attempted = 0L
    var failed = 0L
    def timed(f: => OpResult): Option[(Double, OpResult)] = {
      attempted += 1
      try Some(clocked(f))
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] op failed: $e")
        None
      }
    }
    val lat = ArrayBuffer.empty[Double]
    val rows = ArrayBuffer.empty[Long]
    val layers = ArrayBuffer.empty[java.util.Map[String, Double]]
    val listenedLat = ArrayBuffer.empty[Double]
    val tracer = if (trace) Some(new Tracer(spark)) else None
    def plain(): Unit = timed(w.op()).foreach { case (s, r) => lat += s; rows += r.rows }
    def listening[T](t: Tracer)(f: => T): T = { t.attach(); try f finally t.detach() }
    val gc0 = gcMs()
    val start = System.nanoTime()
    var end = start
    var round = 0
    while ((end - start) / 1e9 < seconds) {
      tracer match {
        case None => plain()
        case Some(t) =>
          // The tracing overhead compares like with like: a plain op and the
          // same op with the listeners attached and the drains of a span
          // done, in alternating order. The split op runs after both.
          def listened(): Unit = listening(t) {
            timed(t.span("op.listened")(w.op())._1).foreach { case (s, _) => listenedLat += s }
          }
          if (round % 2 == 0) { plain(); listened() } else { listened(); plain() }
          listening(t)(timed(w.tracedOp(t))).foreach { case (_, r) => layers += r.layers.asJava }
      }
      round += 1
      end = System.nanoTime()
    }
    val gcTimedMs = gcMs() - gc0

    result.put("cold_op_s", warmTimes.head)
    result.put("warmup_s", warmTimes.asJava)
    result.put("op_s", lat.asJava)
    result.put("rows", rows.asJava)
    result.put("timed_s", (end - start) / 1e9)
    result.put("attempted", attempted)
    result.put("failed", failed)
    result.put("jvm_jit_warm_s", jitWarmMs / 1e3)
    result.put("jvm_gc_timed_s", gcTimedMs / 1e3)
    tracer.foreach { t =>
      result.put("layers", layers.asJava)
      result.put("listened_op_s", listenedLat.asJava)
      result.put("spans", t.all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> s.counters.jobs, "tasks" -> s.counters.tasks,
        "records_read" -> s.counters.recordsRead,
        "bytes_read" -> s.counters.bytesRead,
        "plan_ms" -> s.counters.planMs).asJava).asJava)
    }
  }
}
