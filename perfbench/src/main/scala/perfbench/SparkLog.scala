package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Job, stage and task accounting from outside the program. Installed only
  * in traced runs. A job belongs to a query through the job group its
  * client thread set, and to a lifecycle operation through the time window
  * it was submitted in (the store code runs stages on pool threads whose
  * job group is not the caller's).
  */
final class SparkLog extends SparkListener {
  import SparkLog._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.add(Job(e.jobId, group, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val dur = i.finishTime - i.launchTime
      tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime),
        m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
    }
  }

  /** Totals over the jobs `keep` selects. */
  def agg(keep: Job => Boolean): Agg = {
    val js = jobs.asScala.filter(keep).map(_.id).toSet
    val inJob = (s: Int) => js.contains(stageJob.getOrDefault(s, -1))
    val ts = tasks.asScala.filter(t => inJob(t.stageId)).toSeq
    // skew of the stage that read the most shuffle bytes (the segments
    // merge of a build is its one large shuffle-read stage)
    val byStage = ts.groupBy(_.stageId)
    val heaviest = if (byStage.isEmpty) Seq.empty[Task]
      else byStage.values.maxBy(_.map(_.shuffleRead).sum)
    val skew = if (heaviest.size < 2) 1.0 else {
      val runs = heaviest.map(_.runMs.toDouble)
      val med = Stats.median(runs)
      if (med <= 0) 1.0 else runs.max / med
    }
    Agg(js.size, stages.asScala.count(inJob), ts.size,
      ts.map(_.cpuNs).sum / 1e6, ts.map(_.runMs).sum.toDouble,
      ts.map(_.schedMs).sum.toDouble, ts.map(_.gcMs).sum.toDouble,
      ts.map(_.input).sum.toDouble, ts.map(_.shuffleWrite).sum.toDouble,
      ts.map(_.spill).sum.toDouble, ts.map(_.output).sum.toDouble, skew)
  }

  def inGroup(g: String): Agg = agg(_.group == g)

  def inWindow(fromMs: Long, toMs: Long): Agg =
    agg(j => j.submitMs >= fromMs && j.submitMs <= toMs)
}

object SparkLog {
  final case class Job(id: Int, group: String, submitMs: Long)
  final case class Task(stageId: Int, runMs: Long, cpuNs: Long, schedMs: Long,
                        gcMs: Long, input: Long, shuffleRead: Long,
                        shuffleWrite: Long,
                        spill: Long, output: Long)
  /** Sums over a set of jobs; times in ms, sizes in bytes. */
  final case class Agg(jobs: Int, stages: Int, tasks: Int, cpuMs: Double,
                       runMs: Double, schedMs: Double, gcMs: Double,
                       inputB: Double, shuffleWriteB: Double, spillB: Double,
                       outputB: Double, heaviestStageSkew: Double)

  /** JVM-wide whole-stage-codegen compile count and time (ns). */
  def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
