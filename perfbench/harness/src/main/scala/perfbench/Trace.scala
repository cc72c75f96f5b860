package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark-side tracing. [[Trace]] (a SparkListener) and [[TraceQe]] (a
  * QueryExecutionListener) are registered through `spark.extraListeners` and
  * `spark.sql.queryExecutionListeners`, either on the benchmark's own
  * session or as `-Dspark.*` properties of a child JVM, so the program under
  * test carries no tracing code. Each event becomes one JSON line in the
  * file named by `-Dperfbench.trace.file`, kept in a buffer and flushed when
  * the application ends (spark.stop, or Spark's shutdown hook when a child
  * JVM is terminated); `perfbench/trace.py` turns the lines into per-layer
  * numbers. */
object Trace {
  private lazy val out = new BufferedWriter(new OutputStreamWriter(
    new FileOutputStream(sys.props("perfbench.trace.file"), true),
    StandardCharsets.UTF_8))

  def emit(line: String): Unit = synchronized {
    out.write(line); out.write('\n')
  }

  def flush(): Unit = synchronized(out.flush())

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The innermost program frame of a call-site long form. */
  def site(details: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft.")).getOrElse("")
}

class Trace extends SparkListener {
  import Trace._

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .getOrElse("-1")
    val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details)
    emit(s"""{"e":"js","job":${e.jobId},"t":${e.time},"exec":$exec,""" +
      s""""site":${str(details.map(site).getOrElse(""))}}""")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    emit(s"""{"e":"je","job":${e.jobId},"t":${e.time},""" +
      s""""ok":${e.jobResult == JobSucceeded}}""")

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val t0 = s.submissionTime.getOrElse(0L)
    val t1 = s.completionTime.getOrElse(t0)
    emit(s"""{"e":"sc","stage":${s.stageId},"tasks":${s.numTasks},""" +
      s""""t0":$t0,"t1":$t1,"failed":${s.failureReason.isDefined},""" +
      (if (m == null) "\"run\":0" else
        s""""run":${m.executorRunTime},"cpu":${m.executorCpuTime},""" +
        s""""gc":${m.jvmGCTime},"shw":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""fw":${m.shuffleReadMetrics.fetchWaitTime},""" +
        s""""spill":${m.memoryBytesSpilled + m.diskBytesSpilled},""" +
        s""""out":${m.outputMetrics.bytesWritten}""") + "}")
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = flush()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      emit(s"""{"e":"sql","exec":${s.executionId},"t":${s.time},""" +
        s""""site":${str(site(s.details))}}""")
    case _ =>
  }
}

class TraceQe extends QueryExecutionListener {
  import Trace._

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    emit(s"""{"e":"qe","t":${System.currentTimeMillis()},""" +
      s""""an":${ms("analysis")},"op":${ms("optimization")},""" +
      s""""pl":${ms("planning")}}""")
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
