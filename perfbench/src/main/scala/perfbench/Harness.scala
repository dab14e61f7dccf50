package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry}
import graft.etl.{BronzeReader, BronzeSchemas, EtlRunner, SilverStore}
import graft.functions.{GraftFunctions => F}

/** Runs one benchmark workload in one JVM and writes a JSON record.
  *
  * {{{
  * Harness --workload etl_incremental|query_mix
  *         --inputs DIR --work DIR --seconds S --trace 0|1 --out FILE
  * }}}
  *
  * `--inputs` holds what the generators wrote (`bronze/` or
  * `tables/bench`); `--work` is where the program keeps its state (the
  * Silver root, the artifact root, the query results). The record carries
  * the set-up time, the cold operation, one entry per timed operation,
  * every failure with its exception, and with `--trace 1` the per-layer
  * counters. The caller checks the outputs.
  */
object Harness {

  // The timed region is a fixed amount of work derived from --seconds, so
  // that every run (and parent and change) times the same operations;
  // files later in the sequence cost more as Silver grows. One
  // incremental file takes about 4 s and one warm pass about 10 s on 4
  // cores, so the region lasts about --seconds there.
  val SecondsPerFile = 4.0
  val SecondsPerPass = 10.0
  val Queries: Seq[String] = Seq("q03", "q50", "q73", "q111", "q24", "q127",
    "q136", "q208", "q210", "q197", "q206", "q191")

  final case class Opts(workload: String, inputs: String, work: String,
                        seconds: Double, trace: Boolean, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("inputs"), m("work"), m("seconds").toDouble,
      m.get("trace").contains("1"), m("out"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(shufflePartitions = cores)
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.configure(spark)
    val sessionS = secs(t0)
    val run = new Run(spark, o, sessionS)
    try {
      o.workload match {
        case "etl_incremental" => run.etl()
        case "query_mix" => run.queryMix()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Files.writeString(Paths.get(o.out), toJson(run.record))
    } finally spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def toJson(v: Any): String = mapper.writeValueAsString(v)

  def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  /** Regular files under `root` with (size, mtime). */
  def walk(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f)).map { f =>
        f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap finally s.close()
    }
  }

  /** Bytes and files written between two walks (new or changed files). */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): (Long, Long) = {
    val changed = after.filter { case (k, v) => !before.get(k).contains(v) }
    (changed.values.map(_._1).sum, changed.size.toLong)
  }

  def bytes(w: Map[String, (Long, Long)]): Long = w.values.map(_._1).sum

  /** Distinct `<table>/_bucket=NN` directories with new or changed files. */
  def touchedBuckets(before: Map[String, (Long, Long)],
                     after: Map[String, (Long, Long)]): Long =
    after.collect { case (k, v) if !before.get(k).contains(v) =>
      """[^/]+/_bucket=\d+""".r.findFirstIn(k) }.flatten.toSet.size.toLong

  /** `<key>/<name>` artifact directories under an artifact root. */
  def artifactDirs(root: String): Set[String] =
    Option(new File(root).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(k => Option(k.listFiles()).toSeq.flatten.filter(_.isDirectory)
        .map(n => s"${k.getName}/${n.getName}")).toSet
}

/** One benchmark process: the session, the optional tracer, the record. */
final class Run(spark: SparkSession, o: Harness.Opts, sessionS: Double) {
  import Harness._

  val record = mutable.LinkedHashMap[String, Any]()
  private val ops = mutable.ArrayBuffer[Map[String, Any]]()
  private val failures = mutable.ArrayBuffer[Map[String, Any]]()
  private val setup = mutable.ArrayBuffer[Double]()
  private val layer = mutable.LinkedHashMap[String, Double]()

  private val listener: Option[Attribution] =
    if (o.trace) {
      val a = new Attribution
      spark.sparkContext.addSparkListener(a)
      Some(a)
    } else None

  private def snap(): Attribution.Snapshot = listener.map { a =>
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    a.snapshot()
  }.getOrElse(Attribution.Empty)

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def fail(op: String, e: Throwable): Unit = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    failures += Map("op" -> op, "error" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(400),
      "root" -> s"${root.getClass.getName}: ${String.valueOf(root.getMessage).take(200)}")
  }

  /** The cold operation: jobs and task time go to `cold.*` when traced. */
  private def traceCold[T](body: => T): T = {
    val s0 = snap()
    val r = body
    if (o.trace) {
      val d = snap().minus(s0)
      layer("cold.jobs") = d.totalJobs.toDouble
      layer("cold.task_ms") = d.totalTaskMs.toDouble
    }
    r
  }

  /** The timed region: JVM and listener counters around `body`. */
  private def measured(body: => Unit): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val s0 = snap()
    val t0 = System.nanoTime()
    body
    val wall = secs(t0)
    val d = snap().minus(s0)
    record("measured_s") = wall
    record("gc_ms") = gcMs - gc0
    record("peak_heap_mb") =
      heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    if (o.trace) attribute(d, wall)
  }

  private def finish(): Unit = {
    record("workload") = o.workload
    record("session_s") = sessionS
    record("setup_samples") = setup.toSeq
    record("ops") = ops.toSeq
    record("failures") = failures.toSeq
    if (o.trace) record("layers") = layer.toMap
  }

  // -- ETL ---------------------------------------------------------------

  private val bronze = s"${o.inputs}/bronze"

  private def csvFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".csv")).sortBy(_.getName)

  private def csvRows(f: File): Long = {
    val r = Files.newBufferedReader(f.toPath)
    try r.lines().count() - 1 finally r.close()
  }

  private def results(op: mutable.Map[String, Any],
                      r: Map[String, graft.etl.EtlResult]): Unit = {
    op("files") = r.map { case (f, x) => f -> Map("rows" -> x.rowCount,
      "accepted" -> x.processed, "rejected" -> x.errors) }
    op("accepted") = r.values.map(_.processed).sum
  }

  /** One ETL operation: `body` against the Silver root, timed, with the
    * bytes and files it left under the root; returns the record and the
    * walk after it. */
  private def etlOp(name: String, root: String, rows: Long, csvBytes: Long,
                    before: Map[String, (Long, Long)])
                   (body: => Map[String, graft.etl.EtlResult])
      : (Map[String, Any], Map[String, (Long, Long)]) = {
    val op = mutable.LinkedHashMap[String, Any]("name" -> name)
    val t0 = System.nanoTime()
    try {
      val r = body
      op("wall_s") = secs(t0)
      results(op, r)
    } catch { case e: Throwable => op("wall_s") = secs(t0); fail(name, e) }
    val after = walk(root)
    val (b, nf) = written(before, after)
    op("rows") = rows
    op("csv_bytes") = csvBytes
    op("bytes_written") = b
    op("files_written") = nf
    op("silver_bytes") = bytes(after)
    op("touched_buckets") = touchedBuckets(before, after)
    (op.toMap, after)
  }

  /** Set-up: the initial landing set through one `processDirectory` into
    * an empty Silver root (the cold operation, which also warms up
    * `processFile`). Timed: the first `--seconds / SecondsPerFile`
    * incremental files, one `processFile` each, in landing order. */
  def etl(): Unit = {
    val root = s"${o.work}/silver"
    val store = new SilverStore(spark, root)
    val initial = csvFiles(s"$bronze/initial")
    val files = csvFiles(s"$bronze/incremental")

    val t0 = System.nanoTime()
    val (cold, afterCold) = traceCold {
      etlOp("initial", root, initial.map(csvRows).sum,
        initial.map(_.length).sum, Map.empty) {
        EtlRunner.processDirectory(store, s"$bronze/initial")
      }
    }
    record("cold") = cold
    var walked = afterCold
    setup += secs(t0)

    val timed = math.max(1, math.round(o.seconds / SecondsPerFile).toInt)
    measured {
      files.take(timed).foreach { f =>
        System.gc() // each file starts without the previous one's garbage
        val (op, after) = etlOp(f.getName, root, csvRows(f), f.length, walked) {
          EtlRunner.processFile(store, f.getPath).map(f.getName -> _).toMap
        }
        ops += op
        walked = after
      }
    }
    record("silver_root") = root
    if (o.trace) {
      storeLayers(root)
      bronzeProbe(initial ++ files.take(ops.size))
    }
    finish()
  }

  /** Traced run only: Bronze scan and cleansing kernels on the landed
    * files, each through the noop sink. */
  private def bronzeProbe(files: Seq[File]): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    var rows = 0L
    var scan = 0.0
    var cleanse = 0.0
    files.foreach { f =>
      val schema = BronzeReader.classify(f.getName) match {
        case Some(BronzeReader.EmpresaFile) => BronzeSchemas.empresa
        case Some(BronzeReader.ConductorFile) => BronzeSchemas.conductor
        case _ => BronzeSchemas.vehiculo
      }
      rows += csvRows(f)
      val t0 = System.nanoTime()
      noop(BronzeReader.read(spark, f.getPath, schema))
      scan += secs(t0)
      val df = BronzeReader.read(spark, f.getPath, schema)
      val kernels = df.columns.toSeq.filterNot(_.startsWith("_")).map { c =>
        if (c == "national_id" || c == "carrier_tin") F.rut_format(col(c)).as(c)
        else if (c.contains("date") || c.startsWith("fecha")) F.safe_to_date(col(c)).as(c)
        else F.clean_text(col(c)).as(c)
      }
      val t1 = System.nanoTime()
      noop(df.select(kernels: _*))
      cleanse += secs(t1)
    }
    layer("bronze.rows_per_s") = if (scan > 0) rows / scan else 0.0
    layer("functions.cleanse_rows_per_s") = if (cleanse > 0) rows / cleanse else 0.0
  }

  /** Traced run only: file layout of the Silver root and the buckets the
    * timed operations rewrote. */
  private def storeLayers(root: String): Unit = {
    val w = walk(root)
    val parquet = w.keys.count(_.endsWith(".parquet"))
    val tables = new File(root).listFiles().count(d =>
      d.isDirectory && !d.getName.startsWith("_"))
    layer("store.files_per_table") = if (tables > 0) parquet.toDouble / tables else 0.0
    layer("store.bytes_written") = ops.map(_("bytes_written").asInstanceOf[Long]).sum.toDouble
    layer("store.files_written") =
      ops.map(_("files_written").asInstanceOf[Long]).sum.toDouble
    val bucketDirs = Seq("empresa", "conductor", "vehiculo").flatMap { t =>
      Option(new File(s"$root/$t").listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("_bucket="))
    }
    layer("merge.buckets_total") = bucketDirs.size.toDouble
  }

  // -- query mix -----------------------------------------------------------

  private lazy val specs: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    Queries.map { q =>
      val name = all.keys.filter(_.startsWith(q + "_")).toSeq.sorted.head
      name -> all(name)
    }
  }

  /** The registry (module) a query is defined in, e.g. `text.TextQueries`. */
  private def moduleOf(name: String): String = Seq(
    "analytics.RelationalQueries" -> graft.analytics.RelationalQueries.queries,
    "analytics.ExtendedQueries" -> graft.analytics.ExtendedQueries.queries,
    "analytics.TypedQueries" -> graft.analytics.TypedQueries.queries,
    "analytics.EventQueries" -> graft.analytics.EventQueries.queries,
    "text.TextQueries" -> graft.text.TextQueries.queries,
    "text.CurationQueries" -> graft.text.CurationQueries.queries,
    "similarity.SimilarityQueries" -> graft.similarity.SimilarityQueries.queries,
    "multimodal.MediaQueries" -> graft.multimodal.MediaQueries.queries,
  ).collectFirst { case (m, qs) if qs.contains(name) => m }.getOrElse("unknown")

  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  private val perQuery = mutable.Map[String, Attribution.Snapshot]()
    .withDefaultValue(Attribution.Empty)
  private val perQueryBuild = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val perQueryExec = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var artifactMisses = 0L

  /** One pass over the mix on the artifact root `artifacts`. Each query's
    * result goes to the noop sink, or with `results` set to parquet under
    * `results/<name>` for the output check. Returns each query's seconds
    * and the names of the queries that failed. */
  private def pass(dir: String, artifacts: String, label: String,
                   results: Option[String],
                   traceQueries: Boolean): (Map[String, Double], Seq[String]) = {
    sys.props("graft.artifacts.dir") = artifacts
    val failed = mutable.ArrayBuffer[String]()
    val took = mutable.LinkedHashMap[String, Double]()
    val before = artifactDirs(artifacts)
    specs.foreach { case (name, fn) =>
      release()
      val s0 = snap()
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        results match {
          case Some(r) => df.write.mode("overwrite").parquet(s"$r/$name")
          case None =>
            spark.sparkContext.setLocalProperty(Attribution.SiteKey,
              s"${moduleOf(name)}:noop sink")
            try df.write.format("noop").mode("overwrite").save()
            finally spark.sparkContext.setLocalProperty(Attribution.SiteKey, null)
        }
        if (traceQueries) {
          perQueryBuild(name) += (t1 - t0) / 1e9
          perQueryExec(name) += secs(t1)
        }
      } catch { case e: Throwable => fail(s"$label:$name", e); failed += name }
      took(name) = secs(t0)
      if (o.trace) {
        val d = snap().minus(s0)
        if (traceQueries) perQuery(name) = perQuery(name).plus(d)
        else passJobs.getOrElseUpdate(label, mutable.LinkedHashMap())(name) = d.totalJobs
      }
    }
    artifactMisses += (artifactDirs(artifacts) -- before).size
    (took.toMap, failed.toSeq)
  }

  /** Jobs per query of the untimed passes (traced run only). */
  private val passJobs = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Long]]()

  /** Set-up: one pass on an empty artifact root that writes every result
    * for the oracle check (the cold operation). Timed:
    * `--seconds / SecondsPerPass` passes through the noop sink on the
    * artifact root it left. After them, one more untimed warm pass writes
    * every result again, so that the warm path's outputs are checked too. */
  def queryMix(): Unit = {
    val benchDir = s"${o.inputs}/tables/bench"
    val art = s"${o.work}/artifacts"
    val inputBytes = bytes(walk(benchDir))
    val t0 = System.nanoTime()
    val coldS = traceCold {
      pass(benchDir, art, "cold", Some(s"${o.work}/results"), false)
      secs(t0)
    }
    var walked = walk(art)
    record("cold") = Map("wall_s" -> coldS, "bytes_written" -> bytes(walked),
      "input_bytes" -> inputBytes, "queries" -> specs.size)
    setup += secs(t0)
    Files.writeString(Paths.get(s"${o.work}/oracle_sql.json"),
      toJson(SparkEntry.oracleSql.filter { case (k, _) => specs.exists(_._1 == k) }))

    val execsBefore = listener.map(_.plans.keySet).getOrElse(Set.empty)
    val passes = math.max(1, math.round(o.seconds / SecondsPerPass).toInt)
    measured {
      while (ops.size < passes) {
        System.gc() // each pass starts without the previous one's garbage
        val (took, failed) = pass(benchDir, art, s"pass-${ops.size}", None, o.trace)
        val after = walk(art)
        ops += Map("name" -> s"pass-${ops.size}", "wall_s" -> took.values.sum,
          "query_s" -> took,
          "failed" -> failed, "queries" -> specs.size,
          "bytes_written" -> written(walked, after)._1,
          "artifact_bytes" -> bytes(after), "input_bytes" -> inputBytes)
        walked = after
      }
    }
    if (o.trace) {
      layer("artifacts.bytes") = bytes(walked).toDouble
      queryLayers(execsBefore)
    }
    pass(benchDir, art, "warm", Some(s"${o.work}/results_warm"), false)
    if (o.trace) record("query_jobs") = passJobs
    finish()
  }

  // -- per-layer attribution (traced run) ----------------------------------

  private val modules = Seq("etl.Pipelines", "etl.VehiculoPipeline",
    "etl.DimOps", "etl.MergeOps", "etl.SilverStore")
  private val packages = Seq("analytics", "text", "similarity", "streaming")

  private def attribute(d: Attribution.Snapshot, wall: Double): Unit = {
    import Attribution.sumOf
    val total = d.totalTaskMs.toDouble
    def share(p: Attribution.Site => Boolean) =
      if (total > 0) 100.0 * sumOf(d.taskMs)(p) / total else 0.0
    layer("spark.jobs") = d.totalJobs.toDouble
    layer("spark.tasks") = d.totalTasks.toDouble
    layer("spark.task_ms") = total
    layer("spark.idle_ms") = math.max(0.0, wall * 1000 - d.busyNs / 1e6)
    layer("jvm.gc_ms") = record("gc_ms").asInstanceOf[Long].toDouble
    layer("jvm.peak_heap_mb") = record("peak_heap_mb").asInstanceOf[Double]
    modules.foreach(m => layer(s"attr.$m.task_pct") = share(_.module == m))
    packages.foreach(p => layer(s"attr.$p.task_pct") =
      share(_.module.startsWith(p + ".")))
    layer("attr.Checkpoints.task_pct") = share(_.module == "Checkpoints")
    val named = (modules.toSet, packages.map(_ + "."))
    layer("attr.other_graft.task_pct") = share { s =>
      s != Attribution.Unknown && !named._1(s.module) &&
        !named._2.exists(s.module.startsWith) && s.module != "Checkpoints"
    }
    layer("attr.unknown.task_pct") = share(_ == Attribution.Unknown)
    // layered (inclusive) views: work started through a caller
    layer("dimops.jobs") = sumOf(d.jobs)(_.calls("DimOps.sync")).toDouble
    layer("dimops.task_pct") = share(_.calls("DimOps.sync"))
    layer("merge.task_pct") = share(_.calls("MergeOps.mergeBucketed"))
    val children = Seq("appendHojaVida", "appendLicencia", "appendChildren")
    layer("children.task_pct") = share(s => children.exists(c => s.calls("." + c)))
    layer("maxid.rows_scanned") =
      sumOf(d.recordsRead)(_.calls("PipelineUtil.maxIdOf")).toDouble
    Seq("stageBuckets", "overwrite", "append").foreach { m =>
      layer(s"store.$m.task_pct") = share(_.method == s"SilverStore.$m")
    }
    val rewritten = sumOf(d.recordsWritten)(_.method == "SilverStore.stageBuckets")
    val upserted = ops.flatMap(_.get("accepted")).map(_.asInstanceOf[Long]).sum
    layer("merge.rows_rewritten_per_row_upserted") =
      if (upserted > 0) rewritten.toDouble / upserted else 0.0
    layer("merge.buckets_touched") =
      ops.flatMap(_.get("touched_buckets")).map(_.asInstanceOf[Long]).sum.toDouble
    record("sites") = d.taskMs.toSeq.sortBy(-_._2).map { case (s, ms) =>
      Map("site" -> s.name, "task_ms" -> ms, "jobs" -> d.jobs.getOrElse(s, 0L),
        "chain" -> s.chain)
    }
  }

  private def queryLayers(execsBefore: Set[Long]): Unit = {
    val wall = perQueryBuild.values.sum + perQueryExec.values.sum
    val total = perQuery.values.map(_.totalTaskMs).sum.toDouble
    specs.foreach { case (name, _) =>
      val q = name.takeWhile(_ != '_')
      val s = perQuery(name)
      layer(s"$q.jobs") = s.totalJobs.toDouble
      layer(s"$q.build_pct") = if (wall > 0) 100 * perQueryBuild(name) / wall else 0.0
      layer(s"$q.exec_pct") = if (wall > 0) 100 * perQueryExec(name) / wall else 0.0
      layer(s"$q.task_pct") = if (total > 0) 100 * s.totalTaskMs / total else 0.0
    }
    val artRoot = s"${o.work}/artifacts"
    val plans = listener.map(_.plans.filter { case (id, _) =>
      !execsBefore(id) }.values.toSeq).getOrElse(Nil)
    // a hit is a SQL execution that scans a materialized artifact
    layer("artifacts.hits") = plans.count(_.linesIterator.exists(l =>
      l.contains("Location:") && l.contains(artRoot))).toDouble
    layer("artifacts.misses") = artifactMisses.toDouble
  }
}
