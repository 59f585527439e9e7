package cdcbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.config.TableKeys
import graft.pipeline.CdcPipeline
import graft.sources.BucketedTableStore
import graft.streaming.CdcStream

class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmp(): Path = Files.createTempDirectory("cdcbench-test")

  private def agrees(pipe: CdcPipeline, m: TableModel): Unit = {
    val got = Bench.summarize(pipe.readTable(m.spec.name), m)
    assert(got == ((m.size.toLong, m.size.toLong, 0L, m.checksum, m.cols.map(_.name).toSet)))
  }

  test("model agrees with CdcPipeline file by file: CoW, MoR, drains, evolution, re-delivery") {
    val root = tmp()
    val gen = new Gen(7L, root.resolve("in/fair").toString)
    val m = new TableModel(Gen.Orders)
    val rows = gen.orders(0.0004) // 600 keys
    val load = root.resolve("load/LOAD00000001.parquet")
    Data.writeParquet(load, m.cols.toSeq, rows.iterator)
    m.load(rows.iterator)
    // 8 buckets: a 40-row file scatters (MoR), a 1-3 row file does not
    val pipe = new CdcPipeline(spark, root.resolve("store").toString,
      TableKeys(Map("orders" -> Some(Gen.Orders.keys))), numBuckets = 8)
    pipe.initialLoad("orders", spark.read.parquet(load.toString))
    val plan = Seq(3 -> 0.5, 40 -> 0.2, 1 -> 0.0, 40 -> 0.3, 40 -> 0.3, 2 -> 0.5)
    val (files, touched) = plan.zipWithIndex.map { case ((n, dup), i) =>
      val extra = if (i == 0) Some(Col("o_ext1", Kind.Str)) else None
      val f = gen.changeFile(m, "", n, dup, extra)
      Data.writeCdc(f)
      val out = pipe.processFile(f.path)
      m.applyBatch(Seq(f))
      agrees(pipe, m)
      out match {
        case CdcPipeline.Applied(_, t, _) => f -> t
        case other => fail(s"file $i: $other")
      }
    }.unzip
    assert(touched(1) == 0 && touched(3) == 0, "scattered files take the MoR route")
    assert(touched(2) > 0, "the next small file drains through a CoW merge")
    assert(pipe.processFile(files(2).path) == CdcPipeline.Skipped("Already processed"))
    agrees(pipe, m)
  }

  test("model applies a streaming micro-batch as one deduplicated batch") {
    val root = tmp()
    val gen = new Gen(11L, root.resolve("in/fair").toString)
    val m = new TableModel(Gen.Orders)
    val rows = gen.orders(0.0002)
    val store = root.resolve("store")
    val load = root.resolve("load/LOAD00000001.parquet")
    Data.writeParquet(load, m.cols.toSeq, rows.iterator)
    m.load(rows.iterator)
    BucketedTableStore.create(spark, store.resolve("orders").toString, Gen.Orders.keys,
      spark.read.parquet(load.toString), numBuckets = 4)
    val files = (0 until 6).map { i =>
      val f = gen.changeFile(m, "", 10, 0.3)
      Data.writeCdc(f)
      Files.setLastModifiedTime(java.nio.file.Paths.get(f.path),
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000L))
      f
    }
    // A fresh key inserted by one file and deleted by a later one: applied
    // file by file it ends absent; in one micro-batch the delete survives
    // the dedup and, its key being absent from the table, is inserted.
    val fresh = 5000000000L
    val late = Seq("I", "D").zipWithIndex.map { case (op, i) =>
      val f = CdcFile(s"${gen.fairRoot}/orders/2026/10/13/9999999$i-orders.parquet", "orders",
        Gen.Orders.cols.toIndexedSeq, IndexedSeq(CdcRow(gen.orderRow(fresh), op, 1900000000000000L + i)))
      Data.writeCdc(f)
      Files.setLastModifiedTime(java.nio.file.Paths.get(f.path),
        java.nio.file.attribute.FileTime.fromMillis(2000000L + i * 1000L))
      f
    }
    // one batch of all eight files: the model must see them together
    m.applyBatch(files ++ late)
    assert(m.rows.contains(Key(fresh, 0)))
    val cfg = CdcStream.Config(root = gen.fairRoot, table = "orders", keys = Gen.Orders.keys,
      storeRoot = store.toString, checkpointRoot = root.resolve("ckpt").toString, numBuckets = 4)
    val q = CdcStream.start(spark, cfg, Bench.cdcSchema(Gen.Orders.cols), Trigger.AvailableNow())
    q.awaitTermination()
    assert(q.exception.isEmpty)
    val pipe = new CdcPipeline(spark, store.toString,
      TableKeys(Map("orders" -> Some(Gen.Orders.keys))), numBuckets = 4, adaptiveMerge = false)
    agrees(pipe, m)
  }

  test("call-site attribution puts a broadcast-join job of a CoW merge in the cow layer") {
    val root = tmp()
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, enabled = true, "test")
    tracer.install(spark)
    // a second listener keeps each job's own (thread) call site
    val ownSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        ownSite.put(j.jobId, j.stageInfos.map(_.details).mkString("\n"))
    })
    import spark.implicits._
    val store = BucketedTableStore.create(spark, root.resolve("t").toString, Seq("id"),
      (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"), numBuckets = 4)
    val (_, span) = tracer.span("apply") {
      store.merge(Seq((1L, "x", "U"), (500L, "y", "I")).toDF("id", "v", "Op"))
    }
    tracer.drain()
    val jobs = tracer.jobs.values.asScala.filter(_.span == span.id).toSeq
    val broadcastJobs = jobs.filter(j => !ownSite.get(j.id).contains("graft."))
    assert(broadcastJobs.nonEmpty, "expected a job whose own call site has no graft frame")
    assert(broadcastJobs.forall(_.layer == "cow"), broadcastJobs.map(j => j.id -> j.layer))
    assert(jobs.forall(_.layer == "cow"))
  }

  test("layers: the first frame of a named module decides; helpers are transparent") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)",
      "graft.operators.ParquetAppend$.append(ParquetAppend.scala:40)",
      "graft.operators.FileLedger.markCompleted(FileLedger.scala:70)",
      "graft.pipeline.CdcPipeline.applyFile(CdcPipeline.scala:200)").mkString("\n")
    assert(Layers.of(site, "apply") == "ledger")
    assert(Layers.of("app//graft.operators.CdcDedup$.readCdcFiles(CdcDedup.scala:43)", "") == "stage")
    assert(Layers.of("graft.operators.CdcDedup$.dedupAndProbe(CdcDedup.scala:133)", "") == "dedup")
    assert(Layers.of("graft.sources.BucketedTableStore.evolveSchema(B.scala:1)", "") == "evolve")
    assert(Layers.of("cdcbench.Bench$.summarize(Bench.scala:1)", "read") == "read")
    assert(Layers.of("cdcbench.Bench$.summarize(Bench.scala:1)", "apply") == "other")
  }

  test("a tail percentile needs ten samples above it") {
    assert(Stats.tail((1 to 90).map(_.toDouble), 0.9).isLeft) // 9 samples above p90
    assert(Stats.tail((1 to 101).map(_.toDouble), 0.9) == Right(91.0))
    assert(Stats.tail(Nil, 0.5).isLeft)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
  }
}
