package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span (or to a whole pass). */
final class Work {
  var jobs = 0L
  var jobS = 0.0 // summed job durations, submission to completion
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var runS = 0.0
  var cpuS = 0.0

  def +=(o: Work): Unit = {
    jobs += o.jobs; jobS += o.jobS; tasks += o.tasks; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; runS += o.runS; cpuS += o.cpuS
  }
}

final case class Span(name: String, parent: String, pass: Int, startS: Double, endS: Double) {
  def s: Double = endS - startS
}

/** Spans of a traced pass, kept in memory, with the Spark work of each.
  *
  * The tracer sets a job group named after the open span around every
  * call it times; its listener attributes each job (and that job's
  * stages and tasks) to the span whose group the job carries. Jobs of
  * span `within` whose call site passes through one of `callSites`
  * (class name → layer, first match wins) are also tallied under that
  * layer, which splits the eager jobs one library call runs (e.g. the
  * id assignment inside the changegen build) from the rest of it. */
final class Tracer(spark: SparkSession, val pass: Int, within: String, callSites: Seq[(String, String)]) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9

  val spans = mutable.ArrayBuffer[Span]()
  /** (job id, span, call site of its result stage) of every job, in start order. */
  val jobs = mutable.ArrayBuffer[(Int, String, String)]()
  private val stack = mutable.Stack[String]()
  private val byGroup = new ConcurrentHashMap[String, Work]()
  private val bySite = new ConcurrentHashMap[String, Work]()
  private val stageOwner = new ConcurrentHashMap[Int, (String, Option[String])]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String, Option[String])]()
  @volatile private var seen = 0L

  private def work(m: ConcurrentHashMap[String, Work], k: String): Work =
    m.computeIfAbsent(k, _ => new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      seen += 1
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("(none)")
      val details = e.stageInfos.map(_.details).mkString("\n")
      jobs += ((e.jobId, group, e.stageInfos.maxByOption(_.stageId).fold("")(_.name)))
      val site =
        if (group != within) None
        else callSites.collectFirst { case (needle, layer) if details.contains(needle) => layer }
      jobStart.put(e.jobId, (e.time, group, site))
      e.stageIds.foreach(s => stageOwner.putIfAbsent(s, (group, site)))
      work(byGroup, group).jobs += 1
      site.foreach(work(bySite, _).jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      Option(jobStart.get(e.jobId)).foreach { case (t, group, site) =>
        val d = (e.time - t) / 1e3
        work(byGroup, group).jobS += d
        site.foreach(work(bySite, _).jobS += d)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      Option(stageOwner.get(e.stageId)).foreach { case (group, site) =>
        (Seq(work(byGroup, group)) ++ site.map(work(bySite, _))).foreach { w =>
          w.tasks += 1
          if (m != null) {
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.diskBytesSpilled
            w.runS += m.executorRunTime / 1e3
            w.cpuS += m.executorCpuTime / 1e9
          }
        }
      }
    }
  }

  def start(): Unit = sc.addSparkListener(listener)

  /** Stops listening once every posted event has been delivered. */
  def stop(): Unit = {
    BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    sc.clearJobGroup()
  }

  /** Times `body` as span `name`, nested under the open span. */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack.push(name)
    sc.setJobGroup(name, name)
    val s0 = now
    try body
    finally {
      spans += Span(name, parent, pass, s0, now)
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p, p)
        case None => sc.clearJobGroup()
      }
    }
  }

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.s).sum
  def of(name: String): Work = Option(byGroup.get(name)).getOrElse(new Work)
  def site(layer: String): Work = Option(bySite.get(layer)).getOrElse(new Work)
  def total: Work = { val t = new Work; byGroup.values.asScala.foreach(t += _); t }
  def jobsSeen: Long = seen
  def spanJobs: Long = byGroup.asScala.collect { case (g, w) if g != "(none)" => w.jobs }.sum
}
