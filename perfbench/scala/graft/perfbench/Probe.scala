package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the Spark work done under one job group. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var retries = 0L
  var exchanges = 0L
  var reusedExchanges = 0L
  var broadcasts = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; retries += o.retries
    exchanges += o.exchanges; reusedExchanges += o.reusedExchanges; broadcasts += o.broadcasts
  }
}

/** One traced call: a workload, an op, or one call into a layer. */
final case class Span(id: Int, kind: String, name: String, parent: Option[Int]) {
  var wallNs = 0L
  var childNs = 0L
  val counters = new Counters
}

/** A `SparkListener` plus `QueryExecutionListener` that attributes every
  * job, task, shuffle byte and executed plan to the job group it ran under.
  * `span` gives each traced call its own job group, so the innermost open
  * span owns the work its body launches. Counters are read only after
  * [[settle]] has drained the listener bus, which makes them exact.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val groupOfStage = mutable.Map[Int, String]()
  private val byGroup = mutable.Map[String, Counters]()
  private val plans = mutable.ArrayBuffer[QueryExecution]()
  private var nextId = 0
  private var open: List[Span] = Nil
  val spans = mutable.ArrayBuffer[Span]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def counters(group: String): Counters = byGroup.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    counters(g).jobs += 1
    e.stageIds.foreach(groupOfStage(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOfStage.getOrElseUpdate(e.stageInfo.stageId, groupOf(e.properties))
    if (e.stageInfo.attemptNumber() > 0) counters(g).retries += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(groupOfStage.getOrElse(e.stageId, ""))
    c.tasks += 1
    c.taskMs += e.taskInfo.duration
    if (e.taskInfo.attemptNumber > 0 || e.taskInfo.failed) c.retries += 1
    Option(e.taskMetrics).foreach { m =>
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans += qe }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Drain the bus, then move the plans that finished so far to `group`. */
  def settle(group: String): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val c = counters(group)
      plans.foreach { qe =>
        val (ex, re, bc) = Probe.planShape(qe.executedPlan)
        c.exchanges += ex; c.reusedExchanges += re; c.broadcasts += bc
      }
      plans.clear()
    }
  }

  /** Take (and reset) the counters of `group`. */
  def take(group: String): Counters = synchronized {
    byGroup.remove(group).getOrElse(new Counters)
  }

  /** Run `body` as a span of `kind` named `name` in its own job group. */
  def span[T](kind: String, name: String)(body: => T): T = {
    nextId += 1
    val s = Span(nextId, kind, name, open.headOption.map(_.id))
    val key = s"span-${s.id}"
    settle(open.headOption.map(p => s"span-${p.id}").getOrElse(""))
    open = s :: open
    sc.setJobGroup(key, s"$kind:$name", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      s.wallNs = System.nanoTime() - t0
      settle(key)
      s.counters.add(take(key))
      open = open.tail
      open.headOption match {
        case Some(p) =>
          p.childNs += s.wallNs
          sc.setJobGroup(s"span-${p.id}", s"${p.kind}:${p.name}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += s
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probe {
  /** (shuffle exchanges, reused exchanges, broadcast exchanges) in the
    * executed plan, looking through adaptive plans, query stages and
    * subqueries.
    */
  def planShape(root: SparkPlan): (Long, Long, Long) = {
    var ex = 0L; var re = 0L; var bc = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => ex += 1
        case _: BroadcastExchangeLike => bc += 1
        case _: ReusedExchangeExec => re += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(root)
    (ex, re, bc)
  }
}
