package graftbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop harness of one benchmark run: one client thread runs the
  * ordered op mix on `local[cores]` for `seconds` of timed passes. Each op is one
  * registry call (`build`) plus a `noop` write that executes every output
  * column (`action`).
  *
  * Before the clock: session start, one untimed pass that writes every
  * op's result to parquet for the oracle gate (it also stages each op's
  * per-fixture artifacts), and `warm` more untimed passes.
  *
  * Everything measured goes to `out` as JSON lines; the benchmark's
  * Python side turns them into metrics. With `trace`, Spark's listeners
  * are attached through static confs and half the timed passes record
  * them, so the other half gives the tracing overhead. */
object Main {
  type Op = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mainEntryMs = System.currentTimeMillis()
    val fixture = a("fixture")
    val names = a("ops").split(",").toSeq
    val seconds = a("seconds").toDouble
    val minPasses = a("min-passes").toInt
    val warm = a("warm").toInt
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val dump = a("dump")
    val out = new PrintWriter(a("out"), "UTF-8")
    def emit(kind: String, fields: (String, Any)*): Unit = {
      out.println(Json.obj(("k" -> kind) +: fields: _*)); out.flush()
    }

    val ops: Seq[(String, Op)] = names.map { n =>
      n -> graft.SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown op $n"))
    }
    names.foreach { n =>
      graft.SparkEntry.oracleSql.get(n).foreach(sql => emit("oracle", "name" -> n, "sql" -> sql))
    }
    // One generator for the whole run: the warm-up pass draws the first
    // order, each timed pass the next.
    val rng = new scala.util.Random(seed)
    def order(): Seq[(String, Op)] = rng.shuffle(ops)

    val rt = ManagementFactory.getRuntimeMXBean
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum
    def liveHeapMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

    val calibPre = Calibration.markers(cores)
    val t0 = System.nanoTime()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (trace) b
      .config("spark.extraListeners", classOf[JobListener].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    def drain(): Unit = if (trace) org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    def flushRecords(): Unit = { drain(); Recorder.drainTo(out); out.flush() }

    /** Runs and records one op; `sink` writes its result. */
    def runOp(name: String, op: Op, pass: Int, sink: DataFrame => Unit): Unit = {
      val s0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      var n1 = n0
      val err = try { val df = op(spark, fixture); n1 = System.nanoTime(); sink(df); "" }
      catch { case e: Throwable =>
        if (n1 == n0) n1 = System.nanoTime()
        System.err.println(s"[perfbench] $name failed: $e"); String.valueOf(e.getMessage)
      }
      val n2 = System.nanoTime()
      emit("op", "name" -> name, "pass" -> pass, "t0" -> s0,
        "t_build" -> (s0 + (n1 - n0) / 1000000L), "t1" -> (s0 + (n2 - n0) / 1000000L),
        "build_s" -> (n1 - n0) / 1e9, "total_s" -> (n2 - n0) / 1e9,
        "ok" -> err.isEmpty, "error" -> err.take(300))
    }

    // Untimed warm-up pass: oracle dumps, per-fixture staging, codegen.
    Recorder.on = trace
    val w0 = System.nanoTime()
    order().foreach { case (n, op) =>
      runOp(n, op, -1, _.coalesce(1).write.mode("overwrite").parquet(s"$dump/$n"))
    }
    val stageS = (System.nanoTime() - w0) / 1e9
    flushRecords()
    Recorder.on = false
    // Further untimed passes until the op mix runs at its steady speed.
    (1 to warm).foreach { _ =>
      order().foreach { case (n, op) =>
        runOp(n, op, -2, _.write.format("noop").mode("overwrite").save())
      }
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    emit("setup", "jvm_start_ms" -> rt.getStartTime, "main_entry_ms" -> mainEntryMs,
      "jvm_s" -> (mainEntryMs - rt.getStartTime) / 1e3, "session_s" -> sessionS,
      "stage_s" -> stageS, "warmup_s" -> warmupS, "heap_mb" -> liveHeapMb(),
      "spark" -> org.apache.spark.SPARK_VERSION)

    // Timed passes, whole ones, until `seconds` have passed.
    val t1 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || System.nanoTime() - t1 < seconds * 1e9) {
      // Traced passes follow T U U T T U ..., so a drift over the run
      // weighs on traced and untraced passes alike.
      val traced = trace && (pass % 4 == 0 || pass % 4 == 3)
      drain(); Recorder.on = traced
      val gc0 = gcMs; val jit0 = jit.getTotalCompilationTime
      val p0 = System.nanoTime()
      order().foreach { case (n, op) =>
        runOp(n, op, pass, _.write.format("noop").mode("overwrite").save())
      }
      val passS = (System.nanoTime() - p0) / 1e9
      val gcS = (gcMs - gc0) / 1e3; val jitMs = jit.getTotalCompilationTime - jit0
      flushRecords(); Recorder.on = false
      emit("pass", "pass" -> pass, "traced" -> traced, "s" -> passS,
        "gc_s" -> gcS, "jit_ms" -> jitMs, "heap_mb" -> liveHeapMb())
      pass += 1
    }
    val calibPost = Calibration.markers(cores)
    emit("calib", "one_pre_s" -> calibPre._1, "all_pre_s" -> calibPre._2,
      "one_post_s" -> calibPost._1, "all_post_s" -> calibPost._2)
    spark.stop()
    out.close()
  }
}

/** Co-tenancy markers: a fixed 100M-step FNV-mix spin on one thread and
  * on every core at once. Their wall time depends only on how much CPU
  * the host gives the run, so a slow run with slow markers points at a
  * neighbour, not at the code. */
object Calibration {
  private def spin(k: Long): Long = {
    var i = 0L; var h = 1469598103934665603L + k
    while (i < 100000000L) { h = (h ^ i) * 1099511628211L; i += 1 }
    h
  }

  /** (one-thread seconds, all-cores seconds) */
  def markers(cores: Int): (Double, Double) = {
    val t0 = System.nanoTime()
    if (spin(0) == 42L) System.err.println()
    val one = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val ts = (0 until cores).map { k =>
      val t = new Thread(() => if (spin(k) == 42L) System.err.println()); t.start(); t
    }
    ts.foreach(_.join())
    (one, (System.nanoTime() - t1) / 1e9)
  }
}
