package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.etl.{DimOps, EtlRunner, SilverStore}

/** The benchmark's own checks: the listener attributes program calls to
  * the right module, and the generator's manifest agrees with what the
  * program does to a tiny landing set. Run with `sbt test` in perfbench/. */
class HarnessSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[2]", shufflePartitions = 2)
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("perfbench-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.configure(s)
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def traced[T](body: => T): (T, Attribution.Snapshot) = {
    val a = new Attribution
    spark.sparkContext.addSparkListener(a)
    try {
      val r = body
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      (r, a.snapshot())
    } finally spark.sparkContext.removeSparkListener(a)
  }

  test("siteOf names the innermost graft frame and keeps the caller chain") {
    val trace = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3461)",
      "graft.etl.PipelineUtil$.maxIdOf(Pipelines.scala:30)",
      "graft.etl.ConductorPipeline$.$anonfun$appendHojaVida$1(Pipelines.scala:210)",
      "graft.etl.EtlRunner$.processFile(EtlRunner.scala:33)",
      "perfbench.Run.etl(Harness.scala:240)").mkString("\n")
    val s = Attribution.siteOf(trace)
    assert(s.module == "etl.Pipelines")
    assert(s.method == "PipelineUtil.maxIdOf")
    assert(s.chain == Seq("etl.Pipelines:PipelineUtil.maxIdOf",
      "etl.Pipelines:ConductorPipeline.appendHojaVida",
      "etl.EtlRunner:EtlRunner.processFile"))
    assert(s.calls("ConductorPipeline.appendHojaVida"))
    assert(Attribution.siteOf("java.lang.Thread.run(Thread.java:840)") ==
      Attribution.Unknown)
  }

  test("the listener attributes DimOps.sync on a toy frame to etl.DimOps") {
    val s = spark
    import s.implicits._
    val store = new SilverStore(spark, tmp("perfbench-dim"))
    val (_, snap) = traced {
      DimOps.sync(store, "toy_dim", "toy_id", Seq("name"),
        Seq("a", "b", "b", "c").toDF("name"))
    }
    assert(snap.totalJobs > 0)
    // the id high-water mark is DimOps' own action; the snapshot write
    // runs through SilverStore.overwrite, called from DimOps.sync
    assert(snap.taskMs.keySet.exists(_.module == "etl.DimOps"),
      snap.taskMs.keySet.map(_.name))
    assert(snap.jobs.keySet.forall(_.calls("DimOps.sync")),
      snap.jobs.keySet.map(_.chain))
  }

  test("the generator's manifest matches a tiny-scale run of the program") {
    val dir = tmp("perfbench-gen")
    val gen = Paths.get("gen_bronze.py").toAbsolutePath.toString
    assert(Seq("python3", gen, "--seed", "5", "--out", dir, "--scale", "tiny").! == 0)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val m = om.readTree(Paths.get(dir, "manifest.json").toFile)
    val store = new SilverStore(spark, tmp("perfbench-silver"))
    def checkFiles(results: Map[String, graft.etl.EtlResult]): Unit =
      results.foreach { case (name, r) =>
        val want = m.get("files").get(name)
        assert((r.rowCount, r.processed, r.errors) == ((want.get("rows").asLong,
          want.get("accepted").asLong, want.get("rejected").asLong)), name)
      }
    def checkCounts(want: com.fasterxml.jackson.databind.JsonNode): Unit =
      want.fields().asScala.foreach { e =>
        val t = e.getKey
        val got = if (store.exists(t)) store.read(t).count() else 0L
        assert(got == e.getValue.asLong, t)
      }
    checkFiles(EtlRunner.processDirectory(store, s"$dir/initial"))
    checkCounts(m.get("after_initial"))
    val incremental = m.get("incremental").elements().asScala.map(_.asText).toSeq
    incremental.zipWithIndex.foreach { case (name, i) =>
      checkFiles(EtlRunner.processFile(store, s"$dir/incremental/$name")
        .map(name -> _).toMap)
      checkCounts(m.get("after_incremental").get(i))
    }
  }
}
