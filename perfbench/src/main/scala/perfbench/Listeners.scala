package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark-engine counters for the traced run, from a SparkListener: jobs,
  * stages, tasks, bytes moved and the task time split. Task durations are
  * kept per stage so the kernel stage's skew can be read off. Jobs are also
  * counted per job group, which the query loop sets to the query
  * name. */
final class EngineListener extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var input = 0L
  @volatile var output = 0L
  @volatile var spill = 0L
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var deserMs = 0L
  @volatile var gcMs = 0L
  @volatile var waitMs = 0L
  val taskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty
  val jobsByGroup: mutable.Map[String, Int] = mutable.Map.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
      spill += m.diskBytesSpilled + m.memoryBytesSpilled
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      deserMs += m.executorDeserializeTime
      gcMs += m.jvmGCTime
      // the Spark UI's scheduler delay: task time spent neither running,
      // deserializing, serializing its result nor fetching it
      val dur = info.duration
      waitMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
    }
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += info.duration
  }

  /** Task durations of the stage that ran longest in total among `stageIds`
    * (the kernel's scan stage in an extraction job). */
  def busiestStage(stageIds: Set[Int]): Seq[Long] = synchronized {
    val cands = taskMs.filter(kv => stageIds.contains(kv._1))
    if (cands.isEmpty) Nil else cands.maxBy(_._2.sum)._2.toSeq
  }
  def stageIds: Set[Int] = synchronized(taskMs.keySet.toSet)
}

/** Query-layer counters: per action, the analysis / optimization / planning
  * phase times from `QueryExecution.tracker` and the action's duration. */
final class PhaseListener extends QueryExecutionListener {
  @volatile var actions = 0L
  @volatile var analysisMs = 0L
  @volatile var optimizerMs = 0L
  @volatile var planningMs = 0L
  @volatile var execNs = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    actions += 1
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizerMs += ms("optimization")
    planningMs += ms("planning")
    execNs += durationNs
  }
}

/** Counts what the program does inside `observe` blocks: the two
  * listeners are registered only for the block, so the benchmark's own
  * output checks are not counted; JVM GC time, allocation and codegen
  * compile time are taken as deltas around it. */
final class Observer {
  val engine = new EngineListener
  val phases = new PhaseListener
  var gcS = 0.0
  var allocBytes = 0L
  var codegenNs = 0L

  def observe[A](spark: SparkSession)(body: => A): A = {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(phases)
    val g = Layers.gcSeconds()
    val al = Layers.allocatedAll()
    val cg = CodeGenerator.compileTime
    try body
    finally {
      gcS += Layers.gcSeconds() - g
      allocBytes += Layers.allocatedAll() - al
      codegenNs += CodeGenerator.compileTime - cg
      // listener events are delivered asynchronously; let the bus drain
      // before the counters are read
      org.apache.spark.BusDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(engine)
      spark.listenerManager.unregister(phases)
    }
  }
}
