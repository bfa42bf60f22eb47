package graft

import graft.core.{Functions => F}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkEntry.configure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
    .getOrCreate()

  /** `f`'s result, with `listener` attached while it runs and until every
    * event `f` caused has been delivered. The listener bus is
    * asynchronous but delivers in order, so that holds once a fence job
    * (group `jobs-fence`) started after `f` has been seen.
    */
  private def listening[T](listener: org.apache.spark.scheduler.SparkListener)(f: => T): T = {
    val sc = spark.sparkContext
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val fence = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (isFence(js)) fenced.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(fence)
    try {
      val r = f
      sc.setJobGroup("jobs-fence", "listener-bus fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS), "fence job never delivered")
      r
    } finally { sc.removeSparkListener(listener); sc.removeSparkListener(fence) }
  }

  private def isFence(js: org.apache.spark.scheduler.SparkListenerJobStart): Boolean =
    Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == "jobs-fence")

  /** `f`'s result and the descriptions of the Spark jobs started while
    * it ran, on any thread ("" for a job without one); the fence job is
    * not listed.
    */
  def jobsDuring[T](f: => T): (T, Seq[String]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val r = listening(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (!isFence(js)) {
          jobs.add(Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""))
          ()
        }
    })(f)
    (r, jobs.toArray(Array.empty[String]).toSeq)
  }

  /** `f`'s result and the input records read by the tasks that ended
    * while it ran (the fence job reads none).
    */
  def recordsReadDuring[T](f: => T): (T, Long) = {
    val records = new java.util.concurrent.atomic.AtomicLong()
    val r = listening(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => records.addAndGet(m.inputMetrics.recordsRead))
    })(f)
    (r, records.get())
  }
}

class CoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("xxhash64 seed-0 matches public reference vectors") {
    // Known-answer vectors for XXH64 with seed 0 (public xxHash spec).
    val got = Seq("", "abc", "a", "hello world").toDF("s")
      .select(F.xxhash64Seed(0L, col("s")).as("h")).as[Long].collect()
    assert(got(0) === 0xEF46DB3751D8E999L)
    assert(got(1) === 0x44BC2CF5AD770999L)
    assert(got(2) === 0xD24EC4F1A98C6E5BL)
    assert(got(3) === 0x45AB6734B21E6968L)
  }

  test("time_bucket floors like the reference (incl. negative ts)") {
    val df = Seq(0L, 59L, 60L, 61L, 3599L, 3600L, -1L, -3600L, -3601L).toDF("t")
    val got = df.select(F.timeBucket(lit(3600), col("t")).as("b")).as[Long].collect()
    assert(got.toSeq === Seq(0L, 0L, 0L, 0L, 0L, 3600L, -3600L, -3600L, -7200L))
  }

  test("time_bucket with origin") {
    val df = Seq(10L, 69L, 70L).toDF("t")
    val got = df.select(F.timeBucket(lit(60), col("t"), lit(10)).as("b")).as[Long].collect()
    assert(got.toSeq === Seq(10L, 10L, 70L))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and every oracle key exists") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("series view schema and determinism") {
    val sv = graft.core.Tables.seriesView(spark, sf)
    assert(sv.columns.toSeq === Seq("series", "series_id", "tags", "time", "value"))
    val ids = sv.select("series", "series_id").distinct().collect()
    assert(ids.nonEmpty)
    // same (series, tags) → same id on recompute
    val again = graft.core.Tables.seriesView(spark, sf).select("series", "series_id").distinct().collect()
    assert(ids.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("gate registry names are unique (duplicates would shadow in SparkEntry.queries)") {
    val names = graft.queries.Registry.all.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate gate names: ${dups.mkString(", ")}")
    // every oracle belongs to a registered query, and bench ⊆ registered
    assert(graft.SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
    assert(graft.SparkEntry.benchQueries.toSet.subsetOf(names.toSet))
  }
}
