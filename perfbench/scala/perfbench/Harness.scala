package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Config, Graft, SparkEntry}
import graft.operators.{BackupLoop, Retention, Snapshot}

/** JVM side of the benchmark. It reads a plan (a java.util.Properties
  * file written by run.py), then:
  *
  *  1. sets up once: a fresh session with its own tmpdir, warehouse and
  *     local dirs, the workload's staging, and one untimed warm pass
  *     whose outputs are written for the output check. run.py starts one
  *     JVM per set-up, so every set-up pays the cold JIT and codegen;
  *  2. if the plan says `window=1`, runs the timed window on that
  *     session: after `warm_passes` untimed passes, whole passes
  *     of the workload's ops in the plan's seeded order, one op at a
  *     time, until `seconds` have passed. With `trace=1` the window
  *     alternates untraced and traced passes, and traced ops record
  *     their layers.
  *
  * Every record goes to the plan's `out` file as one JSON object per
  * line; run.py turns the records into metrics. The harness measures
  * from outside: it times its calls into the engine's public functions
  * and reads Spark's listener, tracker and metrics APIs.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try plan.load(in) finally in.close()
    val out = new PrintWriter(plan.getProperty("out"), "UTF-8")
    try new Harness(plan, out).run()
    finally out.close()
  }

  /** One JSON object; values are strings, numbers, booleans or maps. */
  def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => json(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

private final class Harness(plan: java.util.Properties, out: PrintWriter) {
  import Harness.json

  private def prop(k: String): String =
    Option(plan.getProperty(k)).getOrElse(sys.error(s"plan has no '$k'"))
  private def list(k: String): Seq[String] =
    prop(k).split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private val workload = prop("workload")
  private val dataDir = prop("data_dir")
  private val stateDir = new File(prop("state_dir")).getAbsoluteFile
  private val seconds = prop("seconds").toDouble
  private val warmPasses = prop("warm_passes").toInt
  private val traced = prop("trace") == "1"
  private val setupIndex = prop("setup_index").toInt
  private val timeWindow = prop("window") == "1"
  private val cores = prop("cores").toInt
  private val orders = (0 until prop("orders").toInt).map(k => list(s"order.$k"))

  private def emit(fields: (String, Any)*): Unit = { out.println(json(fields)); out.flush() }

  private val ops: Ops =
    if (workload == "backup_cycle") new BackupOps else new QueryOps(list("queries"))

  def run(): Unit = {
    val repDir = new File(stateDir, s"setup$setupIndex")
    val checkDir = new File(repDir, "check")
    val c0 = Probes.compiles()
    val t0 = System.nanoTime()
    val tracer = new Tracer
    val spark = newSession(repDir, tracer)
    val t1 = System.nanoTime()
    ops.stage(spark, repDir)
    val t2 = System.nanoTime()
    ops.warm(spark, checkDir)
    val t3 = System.nanoTime()
    emit("kind" -> "setup", "rep" -> setupIndex, "setup_s" -> (t3 - t0) / 1e9,
      "session_s" -> (t1 - t0) / 1e9, "stage_s" -> (t2 - t1) / 1e9,
      "warm_s" -> (t3 - t2) / 1e9, "codegen_compiles" -> (Probes.compiles() - c0),
      "check_dir" -> checkDir.getPath)
    if (timeWindow) window(spark, tracer)
    spark.stop()
    // the listener bus has drained: traced ops can read their layers
    if (traced) tracer.records.foreach(r => emit(r: _*))
    emit("kind" -> "end", "rss_peak_mb" -> Probes.vmHwmMb(),
      "storage_files" -> Probes.countFiles(repDir))
  }

  private def newSession(repDir: File, tracer: Tracer): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val tmp = new File(repDir, "tmp")
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getPath)
    val spark = Graft.builder("perfbench", Some(s"local[$cores]"), cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(repDir, "warehouse").getPath)
      .config("spark.local.dir", new File(repDir, "local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(tracer)
    spark
  }

  /** `warm_passes` untimed passes, so the JIT settles, then the
    * timed window: whole passes until `seconds` have passed. */
  private def window(spark: SparkSession, tracer: Tracer): Unit = {
    var index = 0 // run-wide pass index: picks the pass's order or tick
    def runPass(label: Int, tracePass: Boolean): Unit = {
      ops.pass(spark, index, label, orders(index % orders.size),
        if (tracePass) Some(tracer) else None)
      index += 1
    }
    while (index < warmPasses && ops.hasPass(index)) runPass(-1, false)
    val host0 = Probes.hostCpu()
    val gc0 = Probes.gcMs()
    val t0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    def needMore = elapsed < seconds || (traced && pass < 2)
    while (needMore && ops.hasPass(index)) {
      val tracePass = traced && pass % 2 == 1
      val p0 = System.nanoTime()
      runPass(pass, tracePass)
      emit("kind" -> "pass", "pass" -> pass, "traced" -> tracePass,
        "wall_s" -> (System.nanoTime() - p0) / 1e9)
      pass += 1
    }
    val wall = elapsed
    val host1 = Probes.hostCpu()
    emit("kind" -> "window", "wall_s" -> wall, "passes" -> pass,
      "gc_ms" -> (Probes.gcMs() - gc0),
      "host_other_cpu_ratio" -> Probes.otherCpuRatio(host0, host1))
  }

  // ── ops ────────────────────────────────────────────────────────────

  private var opSeq = 0L

  /** Times one op; a throw is recorded as failed and carries no time. */
  private def timeOp(pass: Int, name: String, kind: String, tracer: Option[Tracer])(
      body: Layers => Unit): Unit = {
    opSeq += 1
    val layers = new Layers(opSeq, tracer)
    val t0 = System.nanoTime()
    val err =
      try { body(layers); None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
      finally layers.done()
    val wall = (System.nanoTime() - t0) / 1e9
    err match {
      case None =>
        emit("kind" -> "op", "pass" -> pass, "name" -> name, "op_kind" -> kind,
          "ok" -> true, "wall_s" -> wall, "traced" -> tracer.isDefined)
        tracer.foreach(_.opDone(opSeq, name, kind, wall, layers))
      case Some(msg) =>
        emit("kind" -> "op", "pass" -> pass, "name" -> name, "op_kind" -> kind,
          "ok" -> false, "error" -> msg, "traced" -> tracer.isDefined)
    }
  }

  private sealed trait Ops {
    def stage(spark: SparkSession, repDir: File): Unit
    def warm(spark: SparkSession, checkDir: File): Unit
    def hasPass(index: Int): Boolean
    /** Runs pass `index`, recording its ops under `label` (-1: untimed). */
    def pass(spark: SparkSession, index: Int, label: Int, order: Seq[String],
        tracer: Option[Tracer]): Unit
  }

  /** A query workload: each op builds one declared query and writes it
    * to the `noop` sink. */
  private final class QueryOps(names: Seq[String]) extends Ops {
    private val fns = SparkEntry.queries
    private val oracle = SparkEntry.oracleSql
    names.foreach(n => require(fns.contains(n), s"unknown query $n"))

    // fixtures stage lazily inside the queries during the warm pass
    def stage(spark: SparkSession, repDir: File): Unit = ()

    def warm(spark: SparkSession, checkDir: File): Unit = {
      val oracleDir = new File(checkDir, "oracle")
      oracleDir.mkdirs()
      names.foreach { n =>
        oracle.get(n).foreach(sql =>
          java.nio.file.Files.writeString(new File(oracleDir, s"$n.sql").toPath, sql))
        timeOp(-1, n, "query", None) { _ =>
          fns(n)(spark, dataDir).coalesce(1).write.mode("overwrite")
            .parquet(new File(checkDir, n).getPath)
        }
      }
    }

    def hasPass(index: Int): Boolean = true

    def pass(spark: SparkSession, index: Int, label: Int, order: Seq[String],
        tracer: Option[Tracer]): Unit =
      order.foreach { n =>
        timeOp(label, n, "query", tracer) { layers =>
          val df = layers.construct(spark)(fns(n)(spark, dataDir))
          layers.exec(spark)(df.write.format("noop").mode("overwrite").save())
        }
      }
  }

  /** The reference's backup loop. One pass is one tick: the full
    * `BackupLoop.backupAll`, an incremental BACKUP through
    * `Graft.sql`, a RESTORE (or `Snapshot.resolve`) with one
    * aggregate, and `BackupLoop.readLatest`. */
  private final class BackupOps extends Ops {
    private val keepDays = prop("keep_days")
    private val ticks = (0 until prop("ticks").toInt).map(t => list(s"tick.$t"))
    private val readVia = (0 until ticks.size).map(t => prop(s"tick.$t.read"))
    private var root: File = _

    private def fullDir(tick: Int) = new File(root, s"full${tick % 2}")
    private def incDir(tick: Int) = new File(root, s"inc${tick % 2}")
    // the untimed state ticks: 0 stages, 1 warms; timed ticks follow
    private def tickOf(index: Int) = index + 2

    private def source(spark: SparkSession, tick: Int): DataFrame =
      spark.read.parquet(ticks(tick): _*).withColumn("ts", col("ts").cast("timestamp"))

    private def settings(tick: Int): Config.Settings = Config.fromEnvOrThrow(Map(
      "GRAFT_DBS" -> "ev",
      "GRAFT_SNAPSHOT_DIR" -> fullDir(tick).getPath,
      "GRAFT_KEEP_DAYS" -> keepDays,
      "GRAFT_LATEST_TYPE" -> "hardlink",
      "GRAFT_SUFFIX" -> ".zip"))

    def stage(spark: SparkSession, repDir: File): Unit = {
      root = new File(repDir, "snapshots")
      root.mkdirs()
      timeOp(-1, "backup_all", "write", None) { _ =>
        BackupLoop.backupAll(spark, settings(0), (_, _) => source(spark, 0), "ts")
      }
    }

    def warm(spark: SparkSession, checkDir: File): Unit = {
      tick(spark, -1, 1, None)
      checkDir.mkdirs()
      // a broken chain or latest pointer is a failed check, not a failed run
      def dump(name: String)(df: => DataFrame): Unit =
        try df.groupBy("bucket_day").agg(count(lit(1)).as("n_rows"),
              sum("event_id").as("sum_event_id"),
              sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
            .coalesce(1).write.mode("overwrite").parquet(new File(checkDir, name).getPath)
        catch {
          case e: Exception =>
            emit("kind" -> "check_error", "name" -> name,
              "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(300))
        }
      dump("restored")(Snapshot.resolve(spark, incDir(1).getPath))
      dump("latest")(BackupLoop.readLatest(spark, new File(fullDir(1), "ev").getPath,
        Retention.LatestMode.Hardlink).get)
    }

    def hasPass(index: Int): Boolean = tickOf(index) < ticks.size

    def pass(spark: SparkSession, index: Int, label: Int, order: Seq[String],
        tracer: Option[Tracer]): Unit =
      tick(spark, label, tickOf(index), tracer)

    /** Each op's calls into the storage modules, and the snapshot
      * commands sent through `Graft.sql`, run as storage spans; the
      * aggregates that read the result run as exec. */
    private def tick(spark: SparkSession, pass: Int, t: Int, tracer: Option[Tracer]): Unit = {
      val src = source(spark, t)
      val dest = new File(fullDir(t), "ev").getPath
      val inc = incDir(t).getPath
      timeOp(pass, "backup_all", "write", tracer) { layers =>
        if (tracer.isEmpty) BackupLoop.backupAll(spark, settings(t), (_, _) => src, "ts")
        else layers.backupSteps(spark, src, dest, keepDays.toInt)
      }
      timeOp(pass, "backup_incremental", "write", tracer) { layers =>
        src.createOrReplaceTempView("pb_source")
        val report = layers.storage(spark, "snapshot.backup_incremental_ms")(Graft.sql(spark,
          s"BACKUP TABLE pb_source TO '$inc' SETTINGS base_backup = " +
            s"'${new File(fullDir(t - 1), "ev").getPath}'"))
        layers.exec(spark)(report.collect())
        tracer.foreach { _ =>
          val parts = Snapshot.parts(spark, inc).collect()
          layers.value("snapshot.incremental_rewrite_ratio",
            parts.count(_.getString(2) == "delta").toDouble / parts.length)
        }
      }
      timeOp(pass, "restore", "read", tracer) { layers =>
        val restored = layers.storage(spark, "snapshot.restore_ms") {
          if (readVia(t) == "sql") {
            Graft.sql(spark, s"RESTORE TABLE pb_restored FROM '$inc'")
            spark.table("pb_restored")
          } else Snapshot.resolve(spark, inc)
        }
        layers.exec(spark)(restored.groupBy("event_type")
          .agg(count(lit(1)), sum("value")).collect())
      }
      timeOp(pass, "read_latest", "read", tracer) { layers =>
        val latest = layers.storage(spark, "backuploop.read_latest_ms")(
          BackupLoop.readLatest(spark, dest, Retention.LatestMode.Hardlink).get)
        layers.exec(spark)(latest.agg(count(lit(1)), sum("value")).collect())
      }
      val inputBytes = ticks(t).map(f => new File(f).length).sum
      emit("kind" -> "tick", "pass" -> pass, "tick" -> t,
        "snapshot_bytes" -> Probes.dirBytes(root), "input_bytes" -> inputBytes)
    }
  }

  // ── layers ─────────────────────────────────────────────────────────

  /** Per-op layer probes. Untraced ops only run the bodies; traced ops
    * also tag Spark jobs with the op's job group (phase `construct`,
    * `exec` or `storage`), read the final DataFrame's planning tracker,
    * time their storage spans, and take deltas of the JVM's GC time,
    * the codegen counters and the Hadoop FileSystem statistics. */
  final class Layers(seq: Long, tracer: Option[Tracer]) {
    private val on = tracer.isDefined
    private val gc0 = if (on) Probes.gcMs() else 0L
    private val cg0 = if (on) Probes.compiles() else 0L
    private val cgNs0 = if (on) Probes.compileNs() else 0L
    private val fs0 = if (on) Probes.fsStats() else Probes.FsStats.zero
    val values = mutable.LinkedHashMap[String, Double]()

    def value(metric: String, v: Double): Unit = if (on) values(metric) = v

    private def add(metric: String, v: Double): Unit =
      if (on) values(metric) = values.getOrElse(metric, 0.0) + v

    private def tagged[T](spark: SparkSession, phase: String)(body: => T): T =
      if (!on) body
      else {
        spark.sparkContext.setJobGroup(s"pb:$seq:$phase", phase, interruptOnCancel = false)
        try body finally spark.sparkContext.clearJobGroup()
      }

    def construct(spark: SparkSession)(body: => DataFrame): DataFrame = {
      val c0 = System.nanoTime()
      val df = tagged(spark, "construct")(body)
      if (on) {
        values("construct.ms") = (System.nanoTime() - c0) / 1e6
        val phases = df.queryExecution.tracker.phases
        values("construct.analysis_ms") =
          Seq("parsing", "analysis").flatMap(phases.get).map(_.durationMs.toDouble).sum
      }
      df
    }

    def exec[T](spark: SparkSession)(body: => T): T = tagged(spark, "exec")(body)

    /** A call into the storage modules, timed as `metric`. Its Spark
      * work is attributed through the `storage` job group; the rest of
      * its wall is the storage layer's self-time. */
    def storage[T](spark: SparkSession, metric: String)(body: => T): T = {
      val s0 = System.nanoTime()
      try tagged(spark, "storage")(body)
      finally {
        val ms = (System.nanoTime() - s0) / 1e6
        add(metric, ms)
        add("storage.wall_ms", ms)
      }
    }

    /** The steps `BackupLoop.backupAll` composes, called one by one in
      * its order so each can be timed; the rest of the tick (lease,
      * restore, latest-day pointer) is `backuploop.other_ms`. */
    def backupSteps(spark: SparkSession, src: DataFrame, dest: String, keepDays: Int): Unit = {
      def step[T](metric: String)(body: => T): T = {
        val s0 = System.nanoTime()
        try body finally values(metric) = (System.nanoTime() - s0) / 1e6
      }
      storage(spark, "backuploop.all_ms") {
        graft.AtomicDir.withLease(dest) {
          step("snapshot.backup_ms")(Snapshot.backup(src, col("ts"), dest))
          val snap = Snapshot.restore(spark, dest)
          val latestDay = snap.agg(max(col("bucket_day"))).head().getString(0)
          Snapshot.dayView(snap, latestDay).write.mode("overwrite").parquet(s"$dest/_graft_latest")
          step("snapshot.export_ms")(Snapshot.exportAs(Snapshot.dayView(snap, latestDay),
            s"$dest/_graft_archive/ev-$latestDay.zip", "zip"))
          step("snapshot.gc_ms")(Snapshot.gc(spark, dest, keepDays))
        }
      }
      values("backuploop.other_ms") = values.remove("backuploop.all_ms").get -
        Seq("snapshot.backup_ms", "snapshot.export_ms", "snapshot.gc_ms").map(values).sum
    }

    def done(): Unit = if (on) {
      values("jvm.gc_ms") = (Probes.gcMs() - gc0).toDouble
      values("codegen.compiles") = (Probes.compiles() - cg0).toDouble
      values("codegen.compile_ms") = (Probes.compileNs() - cgNs0) / 1e6
      val fs = Probes.fsStats()
      values("fs.read_ops") = (fs.readOps - fs0.readOps).toDouble
      values("fs.write_ops") = (fs.writeOps - fs0.writeOps).toDouble
      values("fs.bytes_read") = (fs.bytesRead - fs0.bytesRead).toDouble
      values("fs.bytes_written") = (fs.bytesWritten - fs0.bytesWritten).toDouble
    }
  }
}

/** Process-level probes: GC, codegen, Hadoop FileSystem statistics,
  * /proc readings and file-tree sizes. */
object Probes {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  final case class FsStats(readOps: Long, writeOps: Long, bytesRead: Long, bytesWritten: Long)
  object FsStats { val zero: FsStats = FsStats(0, 0, 0, 0) }

  @annotation.nowarn("cat=deprecation")
  def fsStats(): FsStats = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    FsStats(all.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum,
      all.map(_.getWriteOps.toLong).sum,
      all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  /** (busy host jiffies, all host jiffies, this process's jiffies). */
  def hostCpu(): (Long, Long, Long) = {
    val cpu = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
    val total = cpu.sum
    val idle = cpu(3) + cpu(4)
    val self = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
    // fields after the parenthesised command name; utime and stime are 14 and 15
    val rest = self.substring(self.lastIndexOf(')') + 2).split(' ')
    (total - idle, total, rest(11).toLong + rest(12).toLong)
  }

  /** Host CPU used outside this process, as a share of host capacity. */
  def otherCpuRatio(a: (Long, Long, Long), b: (Long, Long, Long)): Double = {
    val total = (b._2 - a._2).toDouble
    if (total <= 0) 0.0 else ((b._1 - a._1) - (b._3 - a._3)).max(0L) / total
  }

  def vmHwmMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  def countFiles(dir: File): Long = files(dir).size.toLong
  def dirBytes(dir: File): Long = files(dir).map(_.length).sum
}
