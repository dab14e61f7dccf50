package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Attributes Spark work to the program's modules from outside the
  * program.
  *
  * Every SQL execution carries the call site of the action that started
  * it in `SparkListenerSQLExecutionStart.details` (a stack trace). The
  * innermost `graft.<package>.<Class>.<method>(<File>.scala:<line>)`
  * frame names the call site; its package and file name the module
  * (`etl.SilverStore`, `analytics.RankHistory`, ...). Jobs map to an
  * execution through the `spark.sql.execution.id` job property, stages
  * map to the job that submitted them, and each finished task's run time
  * is charged to its stage's call site. Stage names are not used: under
  * adaptive execution most result stages are named after the future
  * that runs them. A job outside any SQL execution falls back to the
  * stage's own call-site trace. An action the benchmark itself starts
  * (the noop sink over a built query) has no `graft.*` frame; the
  * benchmark labels it with the [[Attribution.SiteKey]] local property
  * (`<module>:<label>`), which names the module that built the plan.
  */
final class Attribution extends SparkListener {
  import Attribution._

  private val execSite = new ConcurrentHashMap[Long, Site]()
  private val execRoot = new ConcurrentHashMap[Long, Long]()
  private val stageSite = new ConcurrentHashMap[Int, Site]()
  private val execPlans = new ConcurrentHashMap[Long, String]()

  private val lock = new Object
  private val taskMs = mutable.Map[Site, Long]().withDefaultValue(0L)
  private val taskCount = mutable.Map[Site, Long]().withDefaultValue(0L)
  private val jobCount = mutable.Map[Site, Long]().withDefaultValue(0L)
  private val recordsRead = mutable.Map[Site, Long]().withDefaultValue(0L)
  private val recordsWritten = mutable.Map[Site, Long]().withDefaultValue(0L)
  private val openJobs = mutable.Map[Int, Long]()
  private var busyFrom = 0L
  private var busyNs = 0L

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execSite.put(e.executionId, siteOf(e.details))
      e.rootExecutionId.foreach(r => execRoot.put(e.executionId, r))
      execPlans.put(e.executionId, e.physicalPlanDescription)
    case _ =>
  }

  private def siteOfExec(id: Long): Option[Site] =
    Option(execSite.get(id)).filter(_ != Unknown).orElse(
      Option(execRoot.get(id)).filter(_ != id).flatMap(siteOfExec))

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val exec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val label = Option(j.properties).flatMap(p => Option(p.getProperty(SiteKey)))
    val site = exec.flatMap(siteOfExec)
      .orElse(j.stageInfos.map(s => siteOf(s.details)).find(_ != Unknown))
      .orElse(label.map(l => Site(l.takeWhile(_ != ':'), l.dropWhile(_ != ':').drop(1), Seq(l))))
      .getOrElse(Unknown)
    j.stageIds.foreach(stageSite.put(_, site))
    lock.synchronized {
      jobCount(site) += 1
      if (openJobs.isEmpty) busyFrom = j.time
      openJobs(j.jobId) = j.time
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = lock.synchronized {
    if (openJobs.remove(j.jobId).isDefined && openJobs.isEmpty)
      busyNs += math.max(0L, j.time - busyFrom) * 1000000L
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val site = Option(stageSite.get(t.stageId)).getOrElse(Unknown)
    val m = Option(t.taskMetrics)
    lock.synchronized {
      taskCount(site) += 1
      m.foreach { tm =>
        taskMs(site) += tm.executorRunTime
        recordsRead(site) += tm.inputMetrics.recordsRead
        recordsWritten(site) += tm.outputMetrics.recordsWritten
      }
    }
  }

  /** Counters accumulated since the listener was registered. */
  def snapshot(): Snapshot = lock.synchronized {
    val busy = busyNs + (if (openJobs.nonEmpty)
      (System.currentTimeMillis() - busyFrom) * 1000000L else 0L)
    Snapshot(taskMs.toMap, taskCount.toMap, jobCount.toMap,
      recordsRead.toMap, recordsWritten.toMap, busy)
  }

  /** Physical plans of every SQL execution seen so far, by execution id. */
  def plans: Map[Long, String] = execPlans.asScala.toMap
}

object Attribution {

  /** A call site: `module` is `<package>.<File>` under `graft` (e.g.
    * `etl.SilverStore`) and `method` is `<Class>.<method>`, both of the
    * innermost `graft.*` frame; `chain` lists every `graft.*` frame as
    * `<module>:<Class>.<method>`, innermost first, so a caller (e.g.
    * `etl.MergeOps:MergeOps.mergeBucketed`) can claim the work it
    * started through a callee. */
  final case class Site(module: String, method: String, chain: Seq[String]) {
    def name: String = s"$module:$method"
    def calls(frame: String): Boolean = chain.exists(_.endsWith(frame))
  }
  val Unknown: Site = Site("unknown", "unknown", Nil)

  /** Local property the benchmark sets around the actions it starts. */
  val SiteKey = "perfbench.site"

  private val Frame =
    """(?:at\s+)?(?:[\w.@-]*/)*graft\.((?:\w+\.)*)(\w+)\$?\.([\w$]+)\((\w+)\.scala:(\d+)\)""".r

  /** The `graft.*` frames of a call-site trace, innermost first. */
  def siteOf(details: String): Site = {
    val frames = Option(details).toSeq.flatMap(_.linesIterator.map(_.trim))
      .collect { case Frame(pkg, cls, method, file, _) =>
        val m = method.split('$').filter(_.nonEmpty)
          .find(s => !s.startsWith("anonfun") && !s.forall(_.isDigit))
          .getOrElse(method)
        ((pkg + file).stripPrefix("."), s"${cls.stripSuffix("$")}.$m")
      }
    frames.headOption match {
      case None => Unknown
      case Some((module, method)) =>
        Site(module, method,
          frames.map { case (f, m) => s"$f:$m" }.distinct)
    }
  }

  final case class Snapshot(taskMs: Map[Site, Long],
                            tasks: Map[Site, Long],
                            jobs: Map[Site, Long],
                            recordsRead: Map[Site, Long],
                            recordsWritten: Map[Site, Long],
                            busyNs: Long) {
    private def fields = Seq(taskMs, tasks, jobs, recordsRead, recordsWritten)
    private def zip(o: Snapshot, f: (Long, Long) => Long): Seq[Map[Site, Long]] =
      fields.zip(o.fields).map { case (a, b) =>
        (a.keySet ++ b.keySet).map(k =>
          k -> f(a.getOrElse(k, 0L), b.getOrElse(k, 0L))).toMap
      }
    def minus(o: Snapshot): Snapshot = {
      val Seq(a, b, c, d, e) = zip(o, _ - _)
      Snapshot(a, b, c, d, e, busyNs - o.busyNs)
    }
    def plus(o: Snapshot): Snapshot = {
      val Seq(a, b, c, d, e) = zip(o, _ + _)
      Snapshot(a, b, c, d, e, busyNs + o.busyNs)
    }
    def totalTaskMs: Long = taskMs.values.sum
    def totalTasks: Long = tasks.values.sum
    def totalJobs: Long = jobs.values.sum
  }
  val Empty: Snapshot =
    Snapshot(Map.empty, Map.empty, Map.empty, Map.empty, Map.empty, 0L)

  /** Sum of `m` over the sites that satisfy `p`. */
  def sumOf(m: Map[Site, Long])(p: Site => Boolean): Long =
    m.collect { case (k, v) if p(k) => v }.sum
}
