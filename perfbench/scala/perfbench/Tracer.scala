package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Attributes Spark's own events to traced ops. A traced op runs its
  * phases under the job group `pb:<op>:<phase>` (phase `construct`,
  * `exec` or `storage`); jobs, stages, tasks and SQL executions carry
  * that group, so attribution does not depend on event timing. Read
  * [[records]] only after the session has stopped, when the listener bus
  * has drained.
  */
final class Tracer extends SparkListener {

  private final class Acc {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var scanBytes = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var output = 0L
    var analysisMs = 0.0
    var optimizeMs = 0.0
    var planMs = 0.0
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    val sqlSpans = mutable.ArrayBuffer[(Long, Long)]()
  }

  /** Wall time covered by at least one of the spans. */
  private def covered(spans: Iterable[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    spans.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total.toDouble
  }

  private val accs = mutable.HashMap[String, Acc]()
  private val jobGroup = mutable.HashMap[Int, (String, Long)]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val execGroup = mutable.HashMap[Long, (String, Long)]()
  private val ops = mutable.ArrayBuffer[(Long, String, String, Double, Map[String, Double])]()

  private def acc(group: String): Acc = accs.getOrElseUpdate(group, new Acc)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb:"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      acc(g).jobs += 1
      jobGroup(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) => acc(g).jobSpans += ((start, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.scanBytes += m.inputMetrics.bytesRead
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.filter(_.startsWith("pb:"))
          .foreach(g => execGroup(s.executionId) = (g, s.time))
      case x: SparkListenerSQLExecutionEnd =>
        execGroup.remove(x.executionId).foreach { case (g, start) =>
          acc(g).sqlSpans += ((start, x.time))
          // the event's QueryExecution is Spark-internal API, read reflectively
          Option(x.getClass.getMethod("qe").invoke(x)).foreach { q =>
            val qe = q.asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
            val phases = qe.tracker.phases
            def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
            val a = acc(g)
            a.analysisMs += ms("parsing") + ms("analysis")
            a.optimizeMs += ms("optimization")
            a.planMs += ms("planning")
          }
        }
      case _ =>
    }
  }

  def opDone(seq: Long, name: String, kind: String, wallS: Double,
      layers: Harness#Layers): Unit = synchronized {
    ops += ((seq, name, kind, wallS, layers.values.toMap))
  }

  /** One record per traced op: the harness's own probes plus what the
    * listener attributed to the op's phases. Jobs and executions of the
    * `exec` and `storage` phases both count as the exec layer;
    * `storage.spark_ms` is the Spark time (planning, jobs and execution
    * time outside jobs) inside the op's storage spans. */
  def records: Seq[Seq[(String, Any)]] = synchronized {
    ops.toSeq.map { case (seq, name, kind, wallS, probes) =>
      def phase(p: String) = accs.getOrElse(s"pb:$seq:$p", new Acc)
      val (c, x, st) = (phase("construct"), phase("exec"), phase("storage"))
      val both = Seq(x, st)
      def sum(f: Acc => Double) = both.map(f).sum
      val jobSpans = both.flatMap(_.jobSpans)
      val sqlSpans = both.flatMap(_.sqlSpans)
      val layers = probes ++ Map(
        "construct.jobs" -> c.jobs.toDouble,
        "catalyst.analysis_ms" -> (probes.getOrElse("construct.analysis_ms", 0.0) +
          sum(_.analysisMs)),
        "catalyst.optimize_ms" -> sum(_.optimizeMs),
        "catalyst.plan_ms" -> sum(_.planMs),
        "exec.ms" -> covered(jobSpans),
        "exec.driver_ms" -> (covered(jobSpans ++ sqlSpans) - covered(jobSpans)),
        "exec.jobs" -> sum(_.jobs.toDouble),
        "exec.stages" -> sum(_.stages.toDouble),
        "exec.tasks" -> sum(_.tasks.toDouble),
        "exec.cpu_ms" -> sum(_.cpuNs / 1e6),
        "exec.run_ms" -> sum(_.runMs.toDouble),
        "exec.scan_bytes" -> sum(_.scanBytes.toDouble),
        "exec.shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
        "exec.shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
        "exec.spill_bytes" -> sum(_.spill.toDouble),
        "exec.output_bytes" -> sum(_.output.toDouble),
        "storage.spark_ms" -> (covered(st.jobSpans ++ st.sqlSpans) + st.analysisMs +
          st.optimizeMs + st.planMs))
      Seq("kind" -> "layers", "name" -> name, "op_kind" -> kind, "wall_s" -> wallS,
        "layers" -> layers)
    }
  }
}
