package graft

import graft.storage.Ingest
import graft.streaming.StreamOps
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The cell table a served answer merged (its read set's table; "" on
    * the raw route), whichever site merged it.
    */
  private def cellTable(res: graft.sydraql.QueryResult): String =
    res.stats.served.fold("")(_.table)

  private def ndjsonDir(lines: Seq[String], dir: java.nio.file.Path = null, name: String = "a.ndjson"): java.nio.file.Path = {
    val d = if (dir == null) Files.createTempDirectory("graft-stream") else dir
    Files.write(d.resolve(name), lines.mkString("\n").getBytes)
    d
  }

  /** Stream-maintained cell table ≡ [[graft.storage.SketchCells.build]]'s
    * table over the same points: the same on-disk schema (names, order,
    * types) and, per cell (`keys`), the same exact partials — `sum_v`
    * within double fold-order tolerance.
    */
  private def assertCellsMatchBuild(streamed: String, built: String,
      keys: Seq[String]): Unit = {
    val (st, bt) = (spark.read.parquet(streamed), spark.read.parquet(built))
    assert(st.schema.map(f => (f.name, f.dataType)) ===
      bt.schema.map(f => (f.name, f.dataType)),
      s"streamed cells at $streamed must have the build's schema")
    val exact = Seq("n_rows", "n_vals", "min_v", "max_v",
      "fl_first", "fl_last", "nn_first", "nn_last")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select((keys ++ exact :+ "sum_v").map(col): _*).collect().map { r =>
        r.toSeq.take(keys.length) ->
          ((r.toSeq.slice(keys.length, keys.length + exact.length),
            r.getDouble(keys.length + exact.length)))
      }.toMap
    val (sc, bc) = (cells(st), cells(bt))
    assert(sc.keySet === bc.keySet, s"streamed cells at $streamed: cell keys differ")
    for ((k, (ex, sum)) <- bc) {
      assert(sc(k)._1 === ex, s"cell $k: exact partials differ")
      assert(math.abs(sc(k)._2 - sum) <= 1e-9 * math.max(1.0, math.abs(sum)),
        s"cell $k: sum_v ${sc(k)._2} vs build $sum")
    }
  }

  private def streamPoints(dir: java.nio.file.Path) =
    Ingest.normalize(spark.readStream.schema(Ingest.ndjsonSchema).json(dir.toString))

  test("watermarked windowed aggregation over a stream") {
    val d = ndjsonDir(Seq(
      """{"series":"m","ts":0,"value":1.0}""",
      """{"series":"m","ts":1800,"value":3.0}""",
      """{"series":"m","ts":3600,"value":10.0}""",
      """{"series":"n","ts":0,"value":5.0}"""))
    val agg = StreamOps.windowedAgg(streamPoints(d), windowDur = "1 hour")
    assert(agg.isStreaming)
    // watermark node present in the logical plan
    assert(agg.queryExecution.logical.toString.contains("EventTimeWatermark"))
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("winagg").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("select * from winagg order by series, window_start").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq ===
        Seq(("m", 0L, 2.0, 2L), ("m", 3600L, 10.0, 1L), ("n", 0L, 5.0, 1L)))
    } finally q.stop()
  }

  test("streaming dedup drops same-(series,time) points within the watermark") {
    // timestamps sit above epoch 0: the initial watermark is 0, and rows
    // at/below the watermark are treated as expired state, not deduped
    val d = ndjsonDir(Seq(
      """{"series":"m","ts":86400,"value":1.0}""",
      """{"series":"m","ts":86400,"value":1.0}""", // exact duplicate
      """{"series":"m","tags":{"host":"a"},"ts":86400,"value":3.0}""", // distinct series_id
      """{"series":"m","ts":86460,"value":2.0}""",
      """{"series":"n","ts":86400,"value":5.0}"""))
    val deduped = StreamOps.dedupStream(streamPoints(d).toDF())
    assert(deduped.isStreaming)
    val q = deduped.writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("select series, time, value from dedup order by series, time, value").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ===
        Seq(("m", 86400L, 1.0), ("m", 86400L, 3.0), ("m", 86460L, 2.0), ("n", 86400L, 5.0)))
    } finally q.stop()
  }

  test("streaming session windows merge by gap and close on watermark") {
    val d = ndjsonDir(Seq(
      """{"series":"m","ts":86400,"value":1.0}""",
      """{"series":"m","ts":86500,"value":2.0}""", // gap 100 < 600 → same session
      """{"series":"m","ts":90000,"value":4.0}""", // gap 3500 → new session
      """{"series":"n","ts":86400,"value":8.0}"""))
    val agg = StreamOps.sessionAgg(streamPoints(d).toDF(), gap = "10 minutes")
    assert(agg.isStreaming)
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("sess").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "select series, session_start, n_events, total_value from sess order by series, session_start")
        .collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq ===
        Seq(("m", 86400L, 2L, 3.0), ("m", 90000L, 1L, 4.0), ("n", 86400L, 1L, 8.0)))
    } finally q.stop()
  }

  test("streaming M4 downsampling matches the batch operator row-for-row") {
    import spark.implicits._
    // one busy bucket (5 points, distinct extremes incl. a value tie),
    // one sparse bucket (1 point → all four extremes coincide), 2 series
    val pts = Seq(
      ("m", 86400L, 5.0), ("m", 86410L, 1.0), ("m", 86420L, 9.0),
      ("m", 86430L, 1.0), ("m", 86440L, 4.0), // bucket 86400: tie on min 1.0
      ("m", 90000L, 7.0), // sparse bucket: one row out
      ("n", 86405L, 2.0), ("n", 86455L, 3.0))
    val d = ndjsonDir(pts.map { case (s, t, v) =>
      s"""{"series":"$s","ts":$t,"value":$v}""" })
    val agg = StreamOps.m4(streamPoints(d).toDF(), step = 3600)
    assert(agg.isStreaming)
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("m4s").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select series, bucket, time, value from m4s")
        .as[(String, Long, Long, Double)].collect().toSet
      val batch = graft.operators.Downsample.m4(
          pts.toDF("series", "time", "value"), step = 3600)
        .as[(String, Long, Long, Double)].collect().toSet
      assert(got === batch)
      // sparse bucket deduped to exactly one row
      assert(got.count(r => r._1 == "m" && r._2 == 90000L) === 1)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch range join") {
    val pts = ndjsonDir(Seq(
      """{"series":"m","ts":100,"value":1.0}""",
      """{"series":"m","ts":500,"value":2.0}""",
      """{"series":"m","ts":1700,"value":3.0}""",
      """{"series":"n","ts":500,"value":4.0}"""))
    val mks = ndjsonDir(Seq(
      """{"series":"m","ts":90,"value":10.0}""",
      """{"series":"m","ts":1000,"value":20.0}""",
      """{"series":"n","ts":2000,"value":30.0}"""))
    val joined = StreamOps.intervalJoin(streamPoints(pts), streamPoints(mks), 600L)
    assert(joined.isStreaming)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ivjoin").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select * from ivjoin order by series, time, m_time")
        .collect().map(_.toSeq).toSeq
      // m@100 in [90,690]; m@500 in [90,690]; m@1700 NOT in [1000,1600];
      // n@500 not in n's [2000,2600]
      assert(got === Seq(
        Seq("m", 100L, 1.0, 90L, 10.0),
        Seq("m", 500L, 2.0, 90L, 10.0)))
      // and the batch twin agrees on the same frames (end-exclusive twin
      // uses < end; mirror with <= by widening the streaming window's
      // closed upper bound into the exclusive form)
      val pb = spark.read.schema("series STRING, ts LONG, value DOUBLE")
        .json(pts.toString).select(col("series"), col("ts").as("time"), col("value"))
      val mb = spark.read.schema("series STRING, ts LONG, value DOUBLE")
        .json(mks.toString).select(col("series"), col("ts").as("w_start"),
          (col("ts") + 601L).as("w_end"), col("value").as("m_value"))
      val batch = graft.operators.RangeJoin.pointInInterval(
          pb, mb, keys = Seq("series"), timeCol = "time",
          startCol = "w_start", endCol = "w_end", bucket = 300L)
        .select(col("series"), col("time"), col("value"),
          col("w_start").as("m_time"), col("m_value"))
        .orderBy("series", "time", "m_time").collect().map(_.toSeq).toSeq
      assert(batch === got)
    } finally q.stop()
  }

  test("streaming vocabulary counts match the batch dictionary per window") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-stream-vocab")
    Files.write(d.resolve("docs.json"), Seq(
      """{"doc_id":1,"time":100,"text":"the cat sat"}""",
      """{"doc_id":2,"time":200,"text":"the dog sat sat"}""",
      """{"doc_id":3,"time":4000,"text":"the cat"}""").mkString("\n").getBytes)
    val schema = "doc_id LONG, time LONG, text STRING"
    val stream = spark.readStream.schema(schema).json(d.toString)
    val vc = StreamOps.vocabCounts(stream, windowDur = "1 hour")
    assert(vc.isStreaming)
    val q = vc.writeStream.outputMode("complete").format("memory").queryName("vocab").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("select * from vocab order by window_start, word").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      // per-doc distinct: doc 2's double "sat" counts once
      assert(rows === Seq(
        (0L, "cat", 1L), (0L, "dog", 1L), (0L, "sat", 2L), (0L, "the", 2L),
        (3600L, "cat", 1L), (3600L, "the", 1L)))
    } finally q.stop()
  }

  test("continuous data-contract checks match the batch suite per window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.pipeline.Checks
    val suite = Seq(Checks.completeness("value"),
      Checks.inRange("value", 0.0, 10.0, 0.5))
    // window 86400: 1.0 / 20.0 (out of range) / null (incomplete)
    // window 90000: 5.0 / 7.0 (clean)
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, Long, Option[Double])]
    ms.addData(("s", 86400L, Some(1.0)), ("s", 86500L, Some(20.0)),
      ("s", 86600L, None), ("s", 90000L, Some(5.0)), ("s", 90100L, Some(7.0)))
    val out = StreamOps.checks(ms.toDF().toDF("series", "time", "value"),
      "events", suite, windowDur = "1 hour")
    assert(out.isStreaming)
    val q = out.writeStream.outputMode("complete").format("memory")
      .queryName("cchecks").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select * from cchecks order by window_start, check").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getDouble(3), r.getBoolean(5))).toSeq
      // batch twin on the same rows, window by window — identical metrics
      val batch = Seq(
        ("s", 86400L, Some(1.0)), ("s", 86500L, Some(20.0)), ("s", 86600L, None),
        ("s", 90000L, Some(5.0)), ("s", 90100L, Some(7.0)))
        .toDF("series", "time", "value")
      val want = Seq(86400L, 90000L).flatMap { w =>
        Checks.tableSuite(batch.filter(col("time") >= w && col("time") < w + 3600),
            "events", suite).collect()
          .map(r => (w, r.getString(0), r.getString(1), r.getDouble(2), r.getBoolean(4)))
      }.sortBy(t => (t._1, t._2))
      assert(got === want)
      // and the crafted values are what we think they are
      assert(got === Seq(
        (86400L, "completeness", "events.value", 0.666667, false),
        (86400L, "in_range", "events.value", 0.333333, false),
        (90000L, "completeness", "events.value", 1.0, true),
        (90000L, "in_range", "events.value", 1.0, true)))
      ()
    } finally q.stop()
    // uniqueness needs a distinct aggregate — loudly batch-only
    intercept[IllegalArgumentException] {
      StreamOps.checks(ms.toDF().toDF("series", "time", "value"),
        "events", Seq(Checks.uniqueness("series")))
    }
    ()
  }

  test("keyed EMA state carries across micro-batches and restarts") {
    val d = ndjsonDir(Seq(
      """{"series":"m","ts":0,"value":1.0}""",
      """{"series":"m","ts":60,"value":2.0}"""))
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val results = scala.collection.concurrent.TrieMap[String, (Double, Long)]()
    def run(): Map[String, (Double, Long)] = {
      val out = StreamOps.emaState(spark, streamPoints(d).toDF(), alpha = 0.5)
      val q = out.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.SeriesEma], _: Long) =>
          b.collect().foreach(e => results.put(e.series, (e.ema, e.n)))
        }
        .start()
      try { q.awaitTermination(60000); () } finally q.stop()
      results.toMap
    }
    val first = run()
    // batch 1: init 1.0, then 0.5*2 + 0.5*1 = 1.5
    assert(first("m") === ((1.5, 2L)))
    // add a second file; restart from the same checkpoint: state carries
    ndjsonDir(Seq("""{"series":"m","ts":120,"value":4.0}"""), d, "b.ndjson")
    val second = run()
    // 0.5*4 + 0.5*1.5 = 2.75, n = 3
    assert(second("m") === ((2.75, 3L)))
  }

  test("streaming IVFPQ index append: streamed vectors serve identically to a batch build") {
    import graft.pipeline.{Clustering, IvfIndex, Pq}
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // one quantizer for everything (the serving contract: fit once, then
    // the index only ever encodes with the frozen quantizer)
    val cs = Clustering.fitCentroids(emb, 8, 2)
    val books = Pq.fit(emb, m = 4, ksub = 16, iters = 1)
    val n = emb.count()
    val split = n / 2
    // batch-build the index from the first half...
    val streamed = Files.createTempDirectory("graft-stream-ivfpq").toString + "/index"
    IvfIndex.buildPq(emb.filter(col("vec_id") < split), streamed,
      centroids = Some(cs), books = Some(books))
    // ...stream the second half in through the SAME narrow encode
    val srcDir = Files.createTempDirectory("graft-stream-ivfpq-src")
    emb.filter(col("vec_id") >= split).write.mode("overwrite")
      .json(srcDir.toString)
    val stream = spark.readStream.schema(emb.schema).json(srcDir.toString)
    val enc = IvfIndex.encodeForIndex(stream, cs, books)
    assert(enc.isStreaming)
    // foreachBatch batch-append, NOT the direct file sink: the file sink's
    // _spark_metadata log would shadow the batch-built half of the index
    val q = enc.writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-stream-ivfpq-ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").partitionBy("bucket").parquet(streamed)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // the streamed index must serve exactly what a batch build over the
    // full corpus (same frozen quantizer) serves
    val batch = Files.createTempDirectory("graft-batch-ivfpq").toString + "/index"
    IvfIndex.buildPq(emb, batch, centroids = Some(cs), books = Some(books))
    val queries = emb.filter(col("vec_id") < 5)
    def serve(path: String) =
      IvfIndex.topKPq(spark, path, queries, 5, nprobe = 4,
          centroids = Some(cs), books = Some(books))
        .orderBy("q_id", "rank").collect().toSeq
    assert(serve(streamed) === serve(batch))
    // the RESIDUAL encode is the same stateless narrow projection — a
    // streamed residual append must also match its batch build (the
    // full-corpus batch build also yields the residual-fit codebooks)
    val rBatch = Files.createTempDirectory("graft-batch-ivfpqr").toString + "/index"
    val (_, rBooks) = IvfIndex.buildPq(emb, rBatch, nCells = 8, iters = 2,
      m = 4, ksub = 16, residual = true, centroids = Some(cs))
    val rStreamed = Files.createTempDirectory("graft-stream-ivfpqr").toString + "/index"
    IvfIndex.buildPq(emb.filter(col("vec_id") < split), rStreamed,
      centroids = Some(cs), books = Some(rBooks), residual = true)
    val rq = IvfIndex.encodeForIndex(
      spark.readStream.schema(emb.schema).json(srcDir.toString), cs, rBooks, residual = true)
      .writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-stream-ivfpqr-ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").partitionBy("bucket").parquet(rStreamed)
      }
      .start()
    try rq.processAllAvailable() finally rq.stop()
    def serveR(path: String) =
      IvfIndex.topKPqResidual(spark, path, queries, 5, nprobe = 4, cs, rBooks)
        .orderBy("q_id", "rank").collect().toSeq
    assert(serveR(rStreamed) === serveR(rBatch))
  }

  test("streaming alert state recovers across a checkpointed restart") {
    // the firing run STRADDLES the restart: two ok buckets arrive before
    // it, two after — the tick at 1800 exists only if the rollup state
    // and watermark recover from the checkpoint
    val b1 = Seq(
      """{"series":"a","ts":0,"value":10.0}""",
      """{"series":"a","ts":600,"value":100.0}""",
      """{"series":"a","ts":650,"value":100.0}""",
      """{"series":"a","ts":1200,"value":100.0}""")
    val b2 = Seq(
      """{"series":"a","ts":1800,"value":100.0}""",
      """{"series":"a","ts":2400,"value":100.0}""",
      """{"series":"a","ts":3000,"value":10.0}""",
      """{"series":"zz","ts":100000,"value":0.0}""")
    val d = ndjsonDir(b1)
    val ckpt = Files.createTempDirectory("graft-alert-ckpt").toString
    val acc = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def run(): Unit = {
      val fired = StreamOps.alertFiring(
        streamPoints(d).toDF(), 600L, col("v") > 50.0, forBuckets = 3)
      val q = fired.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          acc.synchronized {
            acc ++= b.collect().map(r => (r.getString(0), r.getLong(1)))
          }
          ()
        }
        .start()
      try { q.awaitTermination(60000); () } finally q.stop()
    }
    run()
    ndjsonDir(b2, d, "b.ndjson")
    run()
    val got = acc.filter(_._1 != "zz").sorted.toSeq
    // ok buckets 600..2400 (4 consecutive) → ticks at 1800 and 2400
    assert(got === Seq(("a", 1800L), ("a", 2400L)))
  }

  test("streaming range join with explicit intervals matches the batch point-in-interval") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pts = Seq(("a", 100L, 1.0), ("a", 500L, 2.0), ("a", 1700L, 3.0), ("b", 500L, 4.0))
    // overlapping intervals (a@500 matches two), a window that misses
    // 1700 by end-exclusivity at 1600+100, an over-long interval that the
    // duration cap drops, and a b-window containing no point
    val ivs = Seq(
      ("a", 90L, 690L, 10.0), ("a", 400L, 520L, 20.0), ("a", 1000L, 1600L, 30.0),
      ("a", 0L, 5000L, 99.0), // longer than the 600 s cap → dropped
      ("b", 2000L, 2600L, 40.0))
    val msP = MemoryStream[(String, Long, Double)]
    val msI = MemoryStream[(String, Long, Long, Double)]
    val joined = StreamOps.rangeJoin(
      msP.toDF().toDF("series", "time", "value"),
      msI.toDF().toDF("series", "w_start", "w_end", "w_value"),
      maxDurationSecs = 600L)
    assert(joined.isStreaming)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("rjoin").start()
    try {
      msP.addData(pts); msI.addData(ivs); q.processAllAvailable()
      val got = spark.sql(
          "select * from rjoin order by series, time, w_start")
        .collect().map(_.toSeq).toSeq
      // batch twin on the same frames, with the same duration-cap
      // contract applied (the streaming form drops over-cap intervals)
      val want = graft.operators.RangeJoin.pointInInterval(
          pts.toDF("series", "time", "value"),
          ivs.toDF("series", "w_start", "w_end", "w_value")
            .filter(col("w_end") - col("w_start") <= 600L),
          keys = Seq("series"), timeCol = "time",
          startCol = "w_start", endCol = "w_end", bucket = 300L)
        .select(col("series"), col("time"), col("value"),
          col("w_start"), col("w_end"), col("w_value"))
        .orderBy("series", "time", "w_start").collect().map(_.toSeq).toSeq
      assert(got === want)
      assert(got === Seq(
        Seq("a", 100L, 1.0, 90L, 690L, 10.0),
        Seq("a", 500L, 2.0, 90L, 690L, 10.0),
        Seq("a", 500L, 2.0, 400L, 520L, 20.0)))
    } finally q.stop()
  }

  test("streaming range join state recovers across a checkpointed restart") {
    // matches STRADDLE the restart in both directions: the run-2 point
    // a@4400 matches the run-1 interval [3900,4500) (interval state must
    // recover), and the run-2 interval [3950,4100) matches the run-1
    // point a@4000 (point state must recover)
    val ptsDir = ndjsonDir(Seq("""{"series":"a","ts":4000,"value":1.0}"""))
    val ivsDir = Files.createTempDirectory("graft-rjoin-ivs")
    val ivSchema = "series STRING, w_start LONG, w_end LONG, w_value DOUBLE"
    Files.write(ivsDir.resolve("a.json"),
      """{"series":"a","w_start":3900,"w_end":4500,"w_value":10.0}""".getBytes)
    val ckpt = Files.createTempDirectory("graft-rjoin-ckpt").toString
    val acc = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    def run(): Unit = {
      val joined = StreamOps.rangeJoin(
        streamPoints(ptsDir).toDF(),
        spark.readStream.schema(ivSchema).json(ivsDir.toString),
        maxDurationSecs = 600L)
      val q = joined.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          acc.synchronized { acc ++= b.collect().map(_.toSeq) }
          ()
        }
        .start()
      try { q.awaitTermination(60000); () } finally q.stop()
    }
    run()
    ndjsonDir(Seq("""{"series":"a","ts":4400,"value":2.0}"""), ptsDir, "b.ndjson")
    Files.write(ivsDir.resolve("b.json"),
      """{"series":"a","w_start":3950,"w_end":4100,"w_value":20.0}""".getBytes)
    run()
    assert(acc.sortBy(r => (r(1).asInstanceOf[Long], r(3).asInstanceOf[Long])).toSeq === Seq(
      Seq("a", 4000L, 1.0, 3900L, 4500L, 10.0),
      Seq("a", 4000L, 1.0, 3950L, 4100L, 20.0),
      Seq("a", 4400L, 2.0, 3900L, 4500L, 10.0)))
  }

  test("streaming tolerance-bounded as-of join matches the batch as-of") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tol = 600L
    val pts1 = Seq(("a", 4000L, 1.0), ("b", 4200L, 3.0))
    val pts2 = Seq(("a", 4500L, 2.0), ("a", 8000L, 4.0))
    val mks1 = Seq(("a", 3800L, 10.0), ("b", 2000L, 30.0))
    val mks2 = Seq(("a", 4500L, 20.0), ("a", 7900L, 40.0))
    val msP = MemoryStream[(String, Long, Double)]
    val msM = MemoryStream[(String, Long, Double)]
    val joined = StreamOps.asofJoin(
      msP.toDF().toDF("series", "time", "value"),
      msM.toDF().toDF("series", "time", "value"), tol)
    assert(joined.isStreaming)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("asof").start()
    try {
      msP.addData(pts1); msM.addData(mks1); q.processAllAvailable()
      msP.addData(pts2); msM.addData(mks2); q.processAllAvailable()
      // sentinels push BOTH watermarks past every open window
      msP.addData(Seq(("zz", 100000L, 0.0))); msM.addData(Seq(("zz", 100000L, 0.0)))
      q.processAllAvailable()
      val got = spark.sql(
          "select series, time, value, r_time, r_value from asof where series <> 'zz' order by series, time")
        .collect().map(_.toSeq).toSeq
      // batch twin: unbounded backward as-of with the same tolerance
      val want = graft.operators.AsofJoin.backward(
          (pts1 ++ pts2).toDF("series", "time", "value"),
          (mks1 ++ mks2).toDF("series", "time", "value")
            .withColumnRenamed("value", "m_value"),
          keys = Seq("series"), timeCol = "time", rightCols = Seq("m_value"),
          matchedTimeCol = "r_time", tolerance = Some(tol))
        .select(col("series"), col("time"), col("value"), col("r_time"),
          col("m_value").as("r_value"))
        .orderBy("series", "time").collect().map(_.toSeq).toSeq
      assert(got === want)
      assert(got === Seq(
        Seq("a", 4000L, 1.0, 3800L, 10.0),
        Seq("a", 4500L, 2.0, 4500L, 20.0),
        Seq("a", 8000L, 4.0, 7900L, 40.0),
        Seq("b", 4200L, 3.0, null, null)))
    } finally q.stop()
  }

  test("dark-series detection fires once per episode and re-arms when the series returns") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Double)]
    // step 600 × forBuckets 3 → a series is dark 1800 s after its last
    // point; watermark delay 0 so the sentinel advances time directly
    val dark = StreamOps.darkSeries(spark,
      ms.toDF().toDF("series", "time", "value"), 600L, 3, watermarkDelay = "0 seconds")
    assert(dark.isStreaming)
    val q = dark.writeStream.outputMode("append").format("memory")
      .queryName("darkq").start()
    try {
      // a seen at 1000 then silent; b keeps emitting past a's horizon
      ms.addData(Seq(("a", 1000L, 1.0), ("b", 1000L, 1.0)))
      q.processAllAvailable()
      ms.addData(Seq(("b", 2200L, 1.0))); q.processAllAvailable()
      ms.addData(Seq(("b", 3000L, 1.0))); q.processAllAvailable() // watermark 3000 > 2800
      val first = spark.sql("select series, last_seen, dark_since from darkq order by series")
        .collect().map(_.toSeq).toSeq
      assert(first === Seq(Seq("a", 1000L, 2800L)), s"only a goes dark: $first")
      // a returns → state re-arms → a second silence fires a SECOND episode
      ms.addData(Seq(("a", 3100L, 2.0))); q.processAllAvailable()
      ms.addData(Seq(("b", 5000L, 1.0))); q.processAllAvailable() // watermark 5000 > 4900
      val second = spark.sql("select series, last_seen, dark_since from darkq order by last_seen")
        .collect().map(_.toSeq).toSeq
      assert(second === Seq(
        Seq("a", 1000L, 2800L),
        Seq("a", 3100L, 4900L)), s"returning series re-arms: $second")
      // b was never silent for 1800 s of event time → no b alert
      assert(!second.exists(_.head == "b"))
    } finally q.stop()
  }

  test("dark-series state and timeout recover across a checkpointed restart") {
    // a's last point and the watermark that overtakes its horizon are in
    // DIFFERENT runs: the alert exists only if the (series → last_seen)
    // state AND the armed event-time timeout survive the checkpoint
    val d = ndjsonDir(Seq(
      """{"series":"a","ts":86400,"value":1.0}""",
      """{"series":"b","ts":86400,"value":1.0}"""))
    val ckpt = Files.createTempDirectory("graft-dark-ckpt").toString
    val acc = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    def run(): Unit = {
      val dark = StreamOps.darkSeries(spark, streamPoints(d).toDF(), 600L, 3,
        watermarkDelay = "0 seconds")
      val q = dark.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.DarkAlert], _: Long) =>
          acc.synchronized { acc ++= b.collect().map(a => (a.series, a.last_seen, a.dark_since)) }
          ()
        }
        .start()
      try { q.awaitTermination(60000); () } finally q.stop()
    }
    run()
    assert(acc.isEmpty, "nothing is dark inside the first run")
    // second run: only b advances the watermark past a's 86400+1800 horizon
    ndjsonDir(Seq("""{"series":"b","ts":90000,"value":1.0}"""), d, "b.ndjson")
    run()
    assert(acc.toSeq === Seq(("a", 86400L, 88200L)))
  }

  test("streaming alert firing ticks match the batch for-duration episodes") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{avg, lit, pmod}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val step = 600L
    // breach = bucket avg > 50; dyadic values so both engines fold the
    // same averages bit-for-bit
    val b1 = Seq( // buckets 0..1200
      ("a", 0L, 10.0), ("a", 600L, 100.0), ("a", 650L, 100.0), ("a", 1200L, 100.0),
      ("b", 0L, 100.0), ("b", 600L, 100.0), ("b", 1200L, 10.0),
      ("c", 0L, 100.0), ("c", 600L, 100.0)) // c: bucket 1200 absent entirely
    val b2 = Seq( // buckets 1800..3000
      ("a", 1800L, 100.0), ("a", 2400L, 100.0), ("a", 3000L, 10.0),
      ("b", 1800L, 100.0), ("b", 2400L, 100.0), ("b", 3000L, 100.0),
      ("c", 1800L, 100.0), ("c", 2400L, 100.0))
    val ms = MemoryStream[(String, Long, Double)]
    val pts = ms.toDF().toDF("series", "time", "value")
    val fired = StreamOps.alertFiring(pts, step, col("v") > 50.0, forBuckets = 3)
    assert(fired.isStreaming)
    val q = fired.writeStream.outputMode("append").format("memory")
      .queryName("alerts").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      // sentinel advances the watermark past every open window
      ms.addData(Seq(("zz", 100000L, 0.0))); q.processAllAvailable()
      val got = spark.sql(
          "select series, fired_at from alerts where series <> 'zz' order by series, fired_at")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // batch twin on the same points: rollup → Alerts.firing episodes,
      // expanded to per-tick rows (episode [fired_at, episode_end])
      val bucketed = (b1 ++ b2).toDF("series", "time", "value")
        .groupBy(col("series"),
          (col("time") - pmod(col("time"), lit(step))).as("bucket"))
        .agg(avg(col("value")).as("v"))
      val want = graft.operators.Alerts
        .firing(bucketed, Seq("series"), "bucket", step, col("v") > 50.0, forBuckets = 3)
        .collect().flatMap { r =>
          (r.getLong(1) to r.getLong(3) by step).map(t => (r.getString(0), t))
        }.toSeq.sorted
      assert(got === want)
      // a holds for 600..2400 (4 buckets) → ticks at 1800, 2400; b's second
      // run 1800..3000 fires at 3000; c's missing bucket breaks the run
      assert(got === Seq(("a", 1800L), ("a", 2400L), ("b", 3000L)))
    } finally q.stop()
  }

  test("streaming day-over-day offset matches the batch q_ts_offset semantics") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{avg, col, lit, pmod, when}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (step, off) = (600L, 1200L)
    // series a: buckets 0→2.0, 600→4.0, 1200→3.0, 1800→6.0 (1200 pairs
    // with 0, 1800 with 600); series b: 0→0.0 then 1200→7.0 (zero prev ⇒
    // ratio None); dyadic values so both engines fold identical averages
    // ordered so no point is LATE vs the running watermark under the
    // grouped(3) staggering (Spark drops watermark-late rows before they
    // reach the stateful operator — correct semantics, not under test)
    val pts = Seq(
      ("a", 10L, 1.0), ("a", 20L, 3.0), ("b", 30L, 0.0),
      ("a", 650L, 4.0), ("b", 1210L, 7.0), ("a", 1250L, 1.0),
      ("a", 1260L, 5.0), ("a", 1850L, 6.0))
    def batchTwin: Seq[(String, Long, Double, Double, Double, Option[Double])] = {
      val rolled = pts.toDF("series", "time", "value")
        .groupBy(col("series"), (col("time") - pmod(col("time"), lit(step))).as("bucket"))
        .agg(avg(col("value")).as("v"))
      val prev = rolled.select(col("series"), (col("bucket") + off).as("bucket"),
        col("v").as("v_prev"))
      rolled.join(prev, Seq("series", "bucket"))
        .select(col("series"), col("bucket"), col("v"), col("v_prev"),
          (col("v") - col("v_prev")).as("delta_1d"),
          when(col("v_prev") =!= 0, col("v") / col("v_prev")).as("ratio_1d"))
        .orderBy("series", "bucket")
        .as[(String, Long, Double, Double, Double, Option[Double])].collect().toSeq
    }
    def run(tag: String, batches: Seq[Seq[(String, Long, Double)]]): Seq[(String, Long, Double, Double, Double, Option[Double])] = {
      val ms = MemoryStream[(String, Long, Double)]
      val dod = StreamOps.dayOverDay(spark, ms.toDF().toDF("series", "time", "value"),
        step, off, watermarkDelay = "5 seconds")
      assert(dod.isStreaming)
      val q = dod.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        // watermark push: closes every bucket; quiet series a/b are
        // processed via the event-time TIMEOUT branch in this batch
        ms.addData(Seq(("zz", 100000L, 1.0))); q.processAllAvailable()
        // a late point for long-closed bucket 0 must be dropped, not
        // re-emitted or double-counted
        ms.addData(Seq(("a", 40L, 99.0))); q.processAllAvailable()
        spark.sql(s"select series, bucket, v, v_prev, delta_1d, ratio_1d from $tag " +
            "where series <> 'zz' order by series, bucket")
          .as[(String, Long, Double, Double, Double, Option[Double])].collect().toSeq
      } finally q.stop()
    }
    val want = batchTwin
    assert(want.length === 3)
    // staggered batches: incremental folding + cross-batch carry
    assert(run("dod_stagger", pts.grouped(3).toSeq) === want)
    // everything in one batch, then the close: chained same-batch closing
    // (bucket 1200 pairs with bucket 0 closed moments earlier in the SAME
    // invocation)
    assert(run("dod_onebatch", Seq(pts)) === want)
    // pinned values incl. the zero-prev ratio None
    assert(want === Seq(
      ("a", 1200L, 3.0, 2.0, 1.0, Some(1.5)),
      ("a", 1800L, 6.0, 4.0, 2.0, Some(1.5)),
      ("b", 1200L, 7.0, 0.0, 7.0, None)))
  }

  test("streaming topk-per-window matches the batch rank with the same tie-break") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{avg, col, lit, pmod, row_number}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val step = 3600L
    // dyadic values → both engines fold identical averages; b and c tie
    // in window 0 (avg 4.0) to exercise the series-asc tie-break
    val b1 = Seq(
      ("a", 0L, 8.0), ("a", 100L, 2.0), ("b", 50L, 4.0),
      ("c", 60L, 6.0), ("c", 70L, 2.0), ("d", 80L, 1.0))
    val b2 = Seq(
      ("a", 3700L, 1.0), ("b", 3800L, 9.0), ("c", 3900L, 5.0))
    val ms = MemoryStream[(String, Long, Double)]
    val ranked = StreamOps.topkPerWindow(
      ms.toDF().toDF("series", "time", "value"), k = 2, step)
    assert(ranked.isStreaming)
    val q = ranked.writeStream.outputMode("append").format("memory")
      .queryName("topks").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      ms.addData(Seq(("zz", 100000L, 100.0))); q.processAllAvailable()
      val got = spark.sql(
          "select bucket, rnk, series, avg_value from topks where bucket < 90000 order by bucket, rnk")
        .as[(Long, Long, String, Double)].collect().toSeq
      // batch twin: rollup → per-bucket row_number (avg desc, series asc)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("avg_value").desc, col("series"))
      val want = (b1 ++ b2).toDF("series", "time", "value")
        .groupBy(col("series"),
          (col("time") - pmod(col("time"), lit(step))).as("bucket"))
        .agg(avg(col("value")).as("avg_value"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 2)
        .select(col("bucket"), col("rnk"), col("series"), col("avg_value"))
        .orderBy("bucket", "rnk")
        .as[(Long, Long, String, Double)].collect().toSeq
      assert(got === want)
      // window 0: a avg 5.0 ranks 1; b and c tie at 4.0 → series asc picks b
      assert(got === Seq(
        (0L, 1L, "a", 5.0), (0L, 2L, "b", 4.0),
        (3600L, 1L, "b", 9.0), (3600L, 2L, "c", 5.0)))
    } finally q.stop()
  }

  test("streaming bucket z-score matches a batch trailing-window fold") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (step, look) = (600L, 1800L) // 3 trailing slots + self... frame = [-1800, 0]
    // dyadic values: both engines fold identical sums. Series a has a
    // spike at bucket 1800; series b is flat (sigma 0 ⇒ z None, no
    // anomaly). Ordered so nothing is watermark-late under grouped(3).
    val pts = Seq(
      ("a", 10L, 2.0), ("a", 20L, 4.0), ("b", 30L, 5.0),
      ("a", 650L, 3.0), ("b", 700L, 5.0), ("a", 1250L, 3.0),
      ("a", 1850L, 19.0), ("b", 1900L, 5.0))
    // batch twin: rolled buckets, population sigma over the trailing
    // inclusive frame, threshold 1.2
    def batchTwin: Seq[(String, Long, Double, Double, Double, Option[Double], Boolean)] = {
      val rolled = pts.groupBy { case (s, t, _) => (s, t - t % step) }
        .map { case ((s, b), g) => (s, b, g.map(_._3).sum / g.size) }.toSeq
      rolled.map { case (s, b, v) =>
        val frame = rolled.filter(r => r._1 == s && r._2 >= b - look && r._2 <= b)
          .map(_._3).sorted
        val mu = frame.sum / frame.size
        val sigma = math.sqrt(frame.map(x => (x - mu) * (x - mu)).sum / frame.size)
        val z = if (sigma > 0) Some((v - mu) / sigma) else None
        (s, b, v, mu, sigma, z, z.exists(x => math.abs(x) >= 1.2))
      }.sortBy(r => (r._1, r._2))
    }
    def run(tag: String, batches: Seq[Seq[(String, Long, Double)]]) = {
      val ms = MemoryStream[(String, Long, Double)]
      val zs = StreamOps.bucketZScore(spark, ms.toDF().toDF("series", "time", "value"),
        step, look, threshold = 1.2, watermarkDelay = "5 seconds")
      assert(zs.isStreaming)
      val q = zs.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        ms.addData(Seq(("zz", 100000L, 1.0))); q.processAllAvailable() // close all
        ms.addData(Seq(("a", 40L, 99.0))); q.processAllAvailable() // late ⇒ dropped
        spark.sql(s"select series, bucket, v, mu, sigma, z, anomaly from $tag " +
            "where series <> 'zz' order by series, bucket")
          .as[(String, Long, Double, Double, Double, Option[Double], Boolean)]
          .collect().toSeq
      } finally q.stop()
    }
    val want = batchTwin
    assert(run("zs_stagger", pts.grouped(3).toSeq) === want)
    assert(run("zs_onebatch", Seq(pts)) === want)
    // the spike bucket must be the only anomaly; flat series never fires
    assert(want.count(_._7) === 1)
    assert(want.filter(_._1 == "b").forall(r => r._6.isEmpty && !r._7))
    assert(want.find(r => r._1 == "a" && r._2 == 1800L).exists(_._7))
  }

  test("streaming funnel matches the batch min-at-or-after chain") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val steps = Seq("signup", "click", "purchase")
    // user 1: full conversion, with a click BEFORE signup (excluded) and
    //   the qualifying click landing same-second as signup (>= passes);
    // user 2: signup then purchase with no click — stalls at stage 1;
    // user 3: click/purchase only, never signs up — no rows at all.
    // Ordered so nothing is watermark-late under grouped(3) staggering.
    val evs = Seq(
      (1L, "click", 50L), (1L, "signup", 100L), (1L, "click", 100L),
      (2L, "signup", 120L), (3L, "click", 130L),
      (1L, "purchase", 200L), (2L, "purchase", 210L), (3L, "purchase", 220L))
    def batchTwin: Map[Long, Seq[Long]] = {
      val byUser = evs.groupBy(_._1)
      byUser.flatMap { case (u, es) =>
        var times = Seq.empty[Long]
        es.sortBy(e => (e._3, steps.indexOf(e._2))).foreach { case (_, ty, t) =>
          val i = steps.indexOf(ty)
          if (i == times.size && (i == 0 || t >= times(i - 1))) times = times :+ t
        }
        if (times.nonEmpty) Some(u -> times) else None
      }
    }
    def run(tag: String, batches: Seq[Seq[(Long, String, Long)]]): Map[Long, Seq[Long]] = {
      val ms = MemoryStream[(Long, String, Long)]
      val f = StreamOps.funnel(spark, ms.toDF().toDF("user_id", "event_type", "time"),
        steps, watermarkDelay = "5 seconds")
      assert(f.isStreaming)
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        ms.addData(Seq((999L, "signup", 100000L))); q.processAllAvailable() // wm push
        spark.sql(s"select user_id, stage, times from $tag where user_id <> 999")
          .as[(Long, Int, Seq[Long])].collect()
          .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2)._3 }
      } finally q.stop()
    }
    val want = batchTwin
    assert(want === Map(1L -> Seq(100L, 100L, 200L), 2L -> Seq(120L)))
    assert(run("fn_stagger", evs.grouped(3).toSeq) === want)
    assert(run("fn_onebatch", Seq(evs)) === want)
  }

  test("streaming day-over-day PSI matches the batch formula on shared bounds") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val day = 86400L
    // day 0: values spread low; day 1: shifted high — a real drift signal
    val d0 = Seq(1.0, 2.0, 2.5, 3.0, 4.0, 4.5, 5.0, 6.0)
    val d1 = Seq(5.0, 6.0, 6.5, 7.0, 8.0, 8.5, 9.0, 9.5)
    // day offsets start at `day`, not 0: an epoch-0 event time is dropped
    // by the stateful operator's late-row filter at the initial watermark
    val evs = d0.zipWithIndex.map { case (v, i) => ("s1", day + i * 600L, v) } ++
      d1.zipWithIndex.map { case (v, i) => ("s1", 2 * day + i * 600L, v) }
    val (lo, hi) = (1.0, 9.5)
    def expectedPsi: Double = {
      def histo(vs: Seq[Double]) = vs.groupBy(v => math.max(0, math.min(9,
        math.floor((v - lo) / ((hi - lo) / 10)).toInt))).view.mapValues(_.size.toLong).toMap
      val (ha, hb) = (histo(d0), histo(d1))
      val (na, nb) = (d0.size.toDouble, d1.size.toDouble)
      val psi = (0 until 10).map { b =>
        val pa = ha.getOrElse(b, 0L) / na
        val pb = hb.getOrElse(b, 0L) / nb
        (pa + 1e-4 - (pb + 1e-4)) * math.log((pa + 1e-4) / (pb + 1e-4))
      }.sum
      math.floor(psi * 1e4 + 0.5) / 1e4
    }
    def run(tag: String, batches: Seq[Seq[(String, Long, Double)]]) = {
      val ms = MemoryStream[(String, Long, Double)]
      val f = StreamOps.psiDayOverDay(spark,
        ms.toDF().toDF("series", "time", "value"), lo, hi,
        watermarkDelay = "10 minutes")
      assert(f.isStreaming)
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        ms.addData(Seq(("wmpush", 10 * day, 0.0))); q.processAllAvailable()
        spark.sql(s"select series, day, psi, n_cur, n_prev from $tag where series = 's1'")
          .as[(String, Long, Double, Long, Long)].collect().toSet
      } finally q.stop()
    }
    val want = Set(("s1", 2 * day, expectedPsi, 8L, 8L))
    assert(run("psi_stagger", evs.grouped(5).toSeq) === want)
    assert(run("psi_onebatch", Seq(evs)) === want)
  }

  test("streaming LTTB emits the batch operator's interior selections") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b = 86400L
    // 4 nonempty buckets (step 1000) with a spike per interior bucket;
    // bucket b+2000 is EMPTY — the neighbor semantics must skip it the
    // way the batch lag/lead over existing buckets does... (kept dense
    // here: batch and stream must agree bucket-for-bucket)
    val pts = Seq(
      ("s1", b + 100L, 1.0), ("s1", b + 500L, 2.0),
      ("s1", b + 1100L, 9.0), ("s1", b + 1500L, 3.0),
      ("s1", b + 2100L, -7.0), ("s1", b + 2500L, 4.0),
      ("s1", b + 3100L, 5.0), ("s1", b + 3500L, 6.0))
    def run(tag: String, batches: Seq[Seq[(String, Long, Double)]]) = {
      val ms = MemoryStream[(String, Long, Double)]
      val f = StreamOps.lttb(spark, ms.toDF().toDF("series", "time", "value"),
        step = 1000L, watermarkDelay = "60 seconds")
      assert(f.isStreaming)
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { bt => ms.addData(bt); q.processAllAvailable() }
        ms.addData(Seq(("wmpush", 10 * b, 0.0))); q.processAllAvailable()
        spark.sql(s"select series, bucket, time, value, area from $tag where series = 's1'")
          .as[(String, Long, Long, Double, Double)].collect().toSet
      } finally q.stop()
    }
    val batch = graft.operators.Downsample.lttb(
        pts.toDF("series", "time", "value"), step = 1000L, tieCols = Seq("value"))
      .select("series", "bucket", "time", "value", "area")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    // absolute bucket alignment (t - t%1000): 86400-based times land in
    // buckets 86000/87000/88000/89000 → interior = 87000, 88000
    assert(batch.map(_._2) === Set(87000L, 88000L), "two interior buckets")
    assert(run("lt_stagger", pts.grouped(3).toSeq) === batch)
    assert(run("lt_onebatch", Seq(pts)) === batch)
    // gap case: bucket 88000 empty — neighbors skip it exactly like the
    // batch lag/lead over EXISTING buckets
    val gappy = pts.filterNot(p => p._2 >= b + 2000L && p._2 < b + 3000L)
    val gbatch = graft.operators.Downsample.lttb(
        gappy.toDF("series", "time", "value"), step = 1000L, tieCols = Seq("value"))
      .select("series", "bucket", "time", "value", "area")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    assert(gbatch.map(_._2) === Set(87000L), "interior bucket with a gapped successor")
    assert(run("lt_gap", gappy.grouped(3).toSeq) === gbatch)
  }

  test("streaming LTTB tieCol matches batch tieCols at duplicate timestamps") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b = 86400L
    // duplicate timestamps at each bucket's first instant, with tid order
    // OPPOSITE to value order — anchor choice (and therefore areas and
    // selections) depends on which tie key is used; q_ts_lttb's batch
    // form ties on event_id, so the live twin must take the same key
    val pts = Seq(
      ("s1", b + 100L, 5.0, 2L), ("s1", b + 100L, 1.0, 7L), ("s1", b + 500L, 2.0, 3L),
      ("s1", b + 1100L, 9.0, 4L), ("s1", b + 1100L, -2.0, 1L), ("s1", b + 1500L, 3.0, 5L),
      ("s1", b + 2100L, -7.0, 6L), ("s1", b + 2500L, 4.0, 8L),
      ("s1", b + 3100L, 5.0, 9L), ("s1", b + 3500L, 6.0, 10L))
    val batch = graft.operators.Downsample.lttb(
        pts.toDF("series", "time", "value", "tid"), step = 1000L, tieCols = Seq("tid"))
      .select("series", "bucket", "time", "value", "area")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    assert(batch.nonEmpty)
    def run(tag: String, batches: Seq[Seq[(String, Long, Double, Long)]]) = {
      val ms = MemoryStream[(String, Long, Double, Long)]
      val f = StreamOps.lttb(spark, ms.toDF().toDF("series", "time", "value", "tid"),
        step = 1000L, watermarkDelay = "60 seconds", tieCol = Some("tid"))
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { bt => ms.addData(bt); q.processAllAvailable() }
        ms.addData(Seq(("wmpush", 10 * b, 0.0, 0L))); q.processAllAvailable()
        spark.sql(s"select series, bucket, time, value, area from $tag where series = 's1'")
          .as[(String, Long, Long, Double, Double)].collect().toSet
      } finally q.stop()
    }
    assert(run("lt_tid_stagger", pts.grouped(3).toSeq) === batch)
    assert(run("lt_tid_onebatch", Seq(pts)) === batch)
  }

  test("streaming heavy hitters: exact regime reproduces the batch filter; sharding preserves counts") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b = 86400L
    // window 87000: a×5 b×3 c×1 (3 distinct = k−1 ⇒ sketch exact);
    // window 88000: x×4 y×1
    val w1 = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val w2 = Seq.fill(4)("x") ++ Seq("y")
    val evs = w1.zipWithIndex.map { case (w, i) => (w, b + 1000L + i) } ++
      w2.zipWithIndex.map { case (w, i) => (w, b + 2000L + i) }
    def run(tag: String, batches: Seq[Seq[(String, Long)]], shards: Int) = {
      val ms = MemoryStream[(String, Long)]
      val f = StreamOps.heavyHitters(spark, ms.toDF().toDF("word", "time"),
        k = 4, windowSecs = 1000L, watermarkDelay = "60 seconds", numShards = shards)
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { bt => ms.addData(bt); q.processAllAvailable() }
        ms.addData(Seq(("wmpush", 10 * b))); q.processAllAvailable()
        spark.sql(s"select window, shard, word, cnt, n from $tag where window < ${10 * b - 1000}")
          .as[(Long, Int, String, Long, Long)].collect().toSet
      } finally q.stop()
    }
    val want = Set(
      (b + 600, 0, "a", 5L, 9L), (b + 600, 0, "b", 3L, 9L), (b + 600, 0, "c", 1L, 9L),
      (b + 1600, 0, "x", 4L, 5L), (b + 1600, 0, "y", 1L, 5L))
    val got = run("hh_onebatch", Seq(evs), 1)
    assert(got === want)
    assert(run("hh_stagger", evs.grouped(4).toSeq, 1) === want)
    // the confirmed filter (cnt·k > n) IS the batch heavy-hitter set
    assert(got.filter(r => r._4 * 4 > r._5).map(r => (r._1, r._3)) ===
      Set((b + 600, "a"), (b + 600, "b"), (b + 1600, "x")))
    // sharding: same per-word counters; per-shard totals sum to the window total
    val sh = run("hh_sharded", Seq(evs), 3)
    assert(sh.map(r => (r._1, r._3, r._4)) === want.map(r => (r._1, r._3, r._4)))
    val totals = sh.map(r => (r._1, r._2, r._5)).groupBy(_._1)
      .map { case (w, rows) => w -> rows.map(_._3).sum }
    assert(totals === Map((b + 600) -> 9L, (b + 1600) -> 5L))
    // approximate regime (distinct ≫ k−1): the true heavy word survives
    // with its MG lower bound — no false negatives under any batching
    val heavyEvs = (Seq.fill(10)("h") ++ (1 to 5).map(i => s"s$i"))
      .zipWithIndex.map { case (w, i) => (w, b + 3000L + i) }
    val ms2 = MemoryStream[(String, Long)]
    val f2 = StreamOps.heavyHitters(spark, ms2.toDF().toDF("word", "time"),
      k = 3, windowSecs = 1000L, watermarkDelay = "60 seconds")
    val q2 = f2.writeStream.outputMode("append").format("memory").queryName("hh_approx").start()
    val approx = try {
      heavyEvs.grouped(4).foreach { bt => ms2.addData(bt); q2.processAllAvailable() }
      ms2.addData(Seq(("wmpush", 10 * b))); q2.processAllAvailable()
      spark.sql(s"select word, cnt, n from hh_approx where window = ${b + 2600}")
        .as[(String, Long, Long)].collect()
    } finally q2.stop()
    val h = approx.find(_._1 == "h")
    assert(h.nonEmpty, "true heavy hitter must survive the sketch")
    assert(h.get._2 >= 10L - 15L / 3 && h.get._2 <= 10L, s"MG bound violated: $h")
  }

  test("streaming heavy hitters sketch recovers across a checkpointed restart") {
    import spark.implicits._
    val b = 86400L
    // window [87000, 88000): a×5 b×3 c×1, SPLIT across the restart — the
    // final counters are exact only if the sketch state recovers
    val w1 = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val evs = w1.zipWithIndex.map { case (w, i) => (w, b + 1000L + i) }
    def lines(xs: Seq[(String, Long)]) =
      xs.map { case (w, t) => s"""{"word":"$w","time":$t}""" }
    val d = ndjsonDir(lines(evs.take(4)))
    val ckpt = Files.createTempDirectory("graft-hh-ckpt").toString
    val acc = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
    def run(): Unit = {
      val src = spark.readStream.schema("word string, time long").json(d.toString)
      val f = StreamOps.heavyHitters(spark, src, k = 4, windowSecs = 1000L,
        watermarkDelay = "60 seconds").toDF()
      val q = f.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (bf: org.apache.spark.sql.DataFrame, _: Long) =>
          acc.synchronized {
            acc ++= bf.collect().map(r =>
              (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4)))
          }
          ()
        }
        .start()
      try { q.awaitTermination(60000); () } finally q.stop()
    }
    run()
    ndjsonDir(lines(evs.drop(4)) ++ lines(Seq(("wmpush", 10 * b))), d, "b.ndjson")
    run()
    val got = acc.filter(_._1 == b + 600).toSet
    assert(got === Set((b + 600, "a", 5L, 9L), (b + 600, "b", 3L, 9L),
      (b + 600, "c", 1L, 9L)))
  }

  test("streaming Holt-Winters final row equals the batch operator per series") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b = 86400L
    val m = 3
    val rnd = new scala.util.Random(11)
    // 10 closed buckets per series (2m seed + 4 folded emissions)
    // time-ordered interleaving across series: a series-ordered feed
    // would advance the watermark past the second series' events (the
    // late-data guard would rightly drop them)
    val pts = (for (s <- Seq("sa", "sb"); i <- 0 until 10; j <- 0 until 3)
      yield (s, b + i * 1000L + j * 100, math.floor(rnd.nextDouble() * 1e4) / 1e2))
      .sortBy(p => (p._2, p._1))
    val batch = graft.operators.Trend.holtWinters(
        pts.toDF("series", "time", "value"), Seq("series"), m, 1000L)
      .select("series", "level", "trend", "forecast")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def run(tag: String, batches: Seq[Seq[(String, Long, Double)]]) = {
      val ms = MemoryStream[(String, Long, Double)]
      val f = StreamOps.holtWinters(spark, ms.toDF().toDF("series", "time", "value"),
        period = m, step = 1000L, watermarkDelay = "60 seconds").toDF()
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { bt => ms.addData(bt); q.processAllAvailable() }
        ms.addData(Seq(("wmpush", 10 * b, 0.0))); q.processAllAvailable()
        spark.sql(s"select series, bucket, level, trend, forecast from $tag " +
          s"where series in ('sa','sb') order by series, bucket")
          .as[(String, Long, Double, Double, Double)].collect().toSeq
      } finally q.stop()
    }
    val rows = run("hw_onebatch", Seq(pts))
    // one emission per post-seed closed bucket: buckets m+1..10 = 7/series
    assert(rows.count(_._1 == "sa") === 7 && rows.count(_._1 == "sb") === 7)
    // the last emitted row per series IS the batch operator's final state
    val last = rows.groupBy(_._1).map { case (s, rs) =>
      val r = rs.maxBy(_._2); s -> ((r._3, r._4, r._5)) }
    assert(last === batch, "live fold diverged from the batch recursion")
    assert(run("hw_stagger", pts.grouped(7).toSeq) === rows,
      "emission must not depend on micro-batch boundaries")
  }

  test("streaming CMS cells equal the batch sketch table per closed window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.pipeline.TextAnalysis.{CmsA, CmsB, CmsP, hash31}
    import org.apache.spark.sql.functions._
    val b = 86400L
    val w1 = Seq.fill(5)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma", "alpha")
    val w2 = Seq.fill(4)("delta") ++ Seq("alpha")
    val evs = w1.zipWithIndex.map { case (w, i) => (w, b + 1000L + i) } ++
      w2.zipWithIndex.map { case (w, i) => (w, b + 2000L + i) }
    // batch expectation: the SAME bucket projections over each window's words
    val width = 256
    def bucket(i: Int) = pmod(pmod(hash31(col("word")) * lit(CmsA(i)) + lit(CmsB(i)),
      lit(CmsP)), lit(width.toLong))
    val expected = evs.toDF("word", "time")
      .withColumn("window", col("time") - pmod(col("time"), lit(1000L)))
      .select(col("window"),
        posexplode(array(CmsA.indices.map(bucket): _*)).as(Seq("row_i", "bucket")))
      .groupBy("window", "row_i", "bucket").agg(count(lit(1)).as("c"))
      .select(col("window"), col("row_i").cast("int"), col("bucket").cast("int"), col("c"))
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(expected.nonEmpty)
    def run(tag: String, batches: Seq[Seq[(String, Long)]]) = {
      val ms = MemoryStream[(String, Long)]
      val f = StreamOps.cms(ms.toDF().toDF("word", "time"), windowSecs = 1000L,
        watermarkDelay = "60 seconds")
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { bt => ms.addData(bt); q.processAllAvailable() }
        ms.addData(Seq(("wmpush", 10 * b))); q.processAllAvailable()
        spark.sql(s"select window, row_i, bucket, c from $tag where window < ${10 * b - 1000}")
          .as[(Long, Int, Int, Long)].collect().toSet
      } finally q.stop()
    }
    assert(run("cms_onebatch", Seq(evs)) === expected)
    assert(run("cms_stagger", evs.grouped(4).toSeq) === expected)
  }

  test("streaming windowed NDV equals exact batch distinct counts in sparse mode") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    val b = 86400L
    // two series × two windows, ≤60 distinct uids per window (sparse-mode
    // HLL++ → exact); TIME-interLEAVED so stagger can't watermark-drop
    val pts = (for {
      s <- Seq("api", "web"); w <- Seq(0L, 1L); i <- 1 to 200
    } yield (s, b + w * 1000L + (i % 900), (i % (if (s == "api") 37 else 60)).toLong))
      .sortBy(_._2).toVector
    val exact = pts.toDF("series", "time", "uid")
      .withColumn("window", col("time") - pmod(col("time"), lit(1000L)))
      .groupBy("series", "window")
      .agg(count(lit(1)).as("n"), countDistinct($"uid").as("ndv"))
      .as[(String, Long, Long, Long)].collect().toSet
    def run(tag: String, batches: Seq[Seq[(String, Long, Long)]]) = {
      val ms = MemoryStream[(String, Long, Long)]
      val f = StreamOps.ndvWindow(ms.toDF().toDF("series", "time", "uid"),
        windowSecs = 1000L, watermarkDelay = "60 seconds")
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { bt => ms.addData(bt); q.processAllAvailable() }
        ms.addData(Seq(("wmpush", 10 * b, 0L))); q.processAllAvailable()
        spark.sql(s"select series, window, n, ndv from $tag where window < ${10 * b - 1000}")
          .as[(String, Long, Long, Long)].collect().toSet
      } finally q.stop()
    }
    assert(run("ndv_onebatch", Seq(pts)) === exact)
    assert(run("ndv_stagger", pts.grouped(130).toSeq) === exact)
  }

  test("streaming windowed t-digest matches batch keys/counts and error bound") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    val b = 86400L
    val rnd = new scala.util.Random(2026)
    // two series × two 1000-s windows, enough points to exercise clustering
    // TIME-interleaved (sortBy time): staggered batches must never deliver
    // a series' window below the watermark another series already advanced
    val pts = (for {
      s <- Seq("lat_a", "lat_b"); w <- Seq(0L, 1L); i <- 1 to 300
    } yield (s, b + w * 1000L + (i % 900), rnd.nextDouble() * 100))
      .sortBy(_._2).toVector
    // exact per-(series, window) percentiles for the bound check
    val exact = pts.toDF("series", "time", "value")
      .withColumn("window", col("time") - pmod(col("time"), lit(1000L)))
      .groupBy("series", "window")
      .agg(count(lit(1)).as("n"),
        percentile($"value", lit(0.5)).as("e50"),
        percentile($"value", lit(0.95)).as("e95"),
        min($"value").as("lo"), max($"value").as("hi"))
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    def run(tag: String, batches: Seq[Seq[(String, Long, Double)]]) = {
      val ms = MemoryStream[(String, Long, Double)]
      val f = StreamOps.tdigestWindow(ms.toDF().toDF("series", "time", "value"),
        windowSecs = 1000L, watermarkDelay = "60 seconds")
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { bt => ms.addData(bt); q.processAllAvailable() }
        ms.addData(Seq(("wmpush", 10 * b, 0.0))); q.processAllAvailable()
        spark.sql(s"select series, window, n, p50, p95 from $tag where window < ${10 * b - 1000}")
          .as[(String, Long, Long, Double, Double)].collect()
      } finally q.stop()
    }
    for (rows <- Seq(run("td_onebatch", Seq(pts)), run("td_stagger", pts.grouped(170).toSeq))) {
      assert(rows.map(r => (r._1, r._2)).toSet === exact.keySet)
      rows.foreach { case (s, w, n, p50, p95) =>
        val (_, _, en, e50, e95, lo, hi) = exact((s, w))
        assert(n === en, s"($s,$w) count must be exact")
        assert(p50 >= lo && p50 <= hi && p95 >= lo && p95 <= hi)
        // values uniform on [0,100]: quantile error ≈ 100 × rank error;
        // 2% rank headroom at n=600 per window
        assert(math.abs(p50 - e50) < 6, s"($s,$w) p50=$p50 exact=$e50")
        assert(math.abs(p95 - e95) < 6, s"($s,$w) p95=$p95 exact=$e95")
      }
    }
  }

  test("streaming drift monitor: JSD vs static baseline matches the mirrored batch computation") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b = 86400L
    val bins = 4
    val (lo, hi) = (0.0, 100.0)
    val baseline = Seq(0.25, 0.25, 0.25, 0.25)
    val rnd = new scala.util.Random(11)
    // series drift_a stays uniform (low JSD); drift_b concentrates in the
    // top bin in its second window (high JSD). TIME-interleaved.
    val pts = (for {
      s <- Seq("drift_a", "drift_b"); w <- Seq(0L, 1L); i <- 1 to 200
    } yield {
      val v = if (s == "drift_b" && w == 1L) 80.0 + rnd.nextDouble() * 19
              else rnd.nextDouble() * 99
      // base 87000 is window-aligned (multiple of 1000) and a day above
      // epoch 0, so each fixture (series, w) lands in exactly one window
      (s, 87000L + w * 1000L + (i % 900), v)
    }).sortBy(_._2).toVector
    // mirrored batch computation: same clamp-binning, same fold order,
    // same rounds — closed streaming rows must equal this EXACTLY
    def distOf(vals: Seq[Double]): (Double, Double) = {
      val width = (hi - lo) / bins
      val c = Array.fill(bins)(0L)
      vals.foreach { v =>
        c(math.max(0L, math.min(bins - 1L, math.floor((v - lo) / width).toLong)).toInt) += 1 }
      val n = vals.size.toDouble
      val t = (0 until bins).map { i =>
        val p = c(i) / n; val q = baseline(i); val m = (p + q) / 2.0
        (if (c(i) > 0) p * math.log(p / m) else 0.0) * 0.5 +
          (if (q > 0) q * math.log(q / m) * 0.5 else 0.0)
      }.reduce(_ + _)
      val w = (0 until bins - 1).map { b =>
        math.abs((0 to b).map(c(_)).sum / n - baseline.take(b + 1).sum)
      }.reduce(_ + _) * width
      (math.floor(t / math.log(2.0) * 1e4 + 0.5) / 1e4,
        math.floor(w * 1e6 + 0.5) / 1e6)
    }
    val exact = pts.groupBy(p => (p._1, p._2 - p._2 % 1000L)).map { case (k, es) =>
      val (j, w) = distOf(es.map(_._3))
      (k._1, k._2, es.size.toLong, j, w) }.toSet
    def run(tag: String, batches: Seq[Seq[(String, Long, Double)]]) = {
      val ms = MemoryStream[(String, Long, Double)]
      val f = StreamOps.driftWindow(ms.toDF().toDF("series", "time", "value"),
        windowSecs = 1000L, lo = lo, hi = hi, bins = bins, baseline = baseline,
        watermarkDelay = "60 seconds")
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { bt => ms.addData(bt); q.processAllAvailable() }
        ms.addData(Seq(("wmpush", 10 * b, 0.0))); q.processAllAvailable()
        spark.sql(s"select series, window, n, jsd, w1 from $tag where window < ${10 * b - 1000}")
          .as[(String, Long, Long, Double, Double)].collect().toSet
      } finally q.stop()
    }
    val one = run("drift_onebatch", Seq(pts))
    assert(one === exact)
    assert(run("drift_stagger", pts.grouped(140).toSeq) === exact)
    // the drifted (series, window) must alarm well above the in-dist ones
    // on BOTH distances (w1 in value units: mass moved ~60 of 100)
    val byKey = one.map(r => (r._1, r._2) -> (r._4, r._5)).toMap
    assert(byKey(("drift_b", 88000L))._1 > 0.5, "drifted window must alarm (jsd)")
    assert(byKey(("drift_b", 88000L))._2 > 30.0, "drifted window must alarm (w1)")
    assert(byKey(("drift_a", 87000L))._1 < 0.1, "in-distribution window must not (jsd)")
    assert(byKey(("drift_a", 87000L))._2 < 10.0, "in-distribution window must not (w1)")
    intercept[IllegalArgumentException](
      StreamOps.driftWindow(pts.toDF("series", "time", "value"), 1000L,
        lo, hi, bins, Seq(0.5, 0.5)))
  }

  test("streaming attribution matches the batch first/last-touch frames") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // user 1: purchase-first (first_ch = purchase itself, last_ch None),
    //   then a click and a second purchase (last_ch Some(click));
    // user 2: signup → click → purchase, with the click arriving
    //   out-of-order inside the watermark delay.
    val evs = Seq(
      (1L, "purchase", 100L, 1L), (1L, "click", 150L, 2L),
      (1L, "purchase", 200L, 3L),
      (2L, "signup", 100L, 4L), (2L, "purchase", 300L, 6L),
      (2L, "click", 200L, 5L))
    def batchTwin: Set[(Long, String, Option[String], Long)] =
      evs.groupBy(_._1).flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e._3, e._4))
        sorted.zipWithIndex.collect { case ((_, "purchase", t, _), i) =>
          val firstCh = sorted.head._2
          val lastCh = sorted.take(i).reverse.collectFirst {
            case (_, et, _, _) if et != "purchase" => et
          }
          (u, firstCh, lastCh, t)
        }
      }.toSet
    def run(tag: String, batches: Seq[Seq[(Long, String, Long, Long)]]) = {
      val ms = MemoryStream[(Long, String, Long, Long)]
      val f = StreamOps.attribution(spark,
        ms.toDF().toDF("user_id", "event_type", "time", "event_id"),
        watermarkDelay = "60 seconds")
      assert(f.isStreaming)
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        ms.addData(Seq((999L, "signup", 100000L, 999L))); q.processAllAvailable()
        spark.sql(s"select user_id, first_ch, last_ch, t_purchase from $tag where user_id <> 999")
          .as[(Long, String, Option[String], Long)].collect().toSet
      } finally q.stop()
    }
    val want = batchTwin
    assert(want === Set(
      (1L, "purchase", None, 100L),
      (1L, "purchase", Some("click"), 200L),
      (2L, "signup", Some("click"), 300L)))
    assert(run("at_stagger", evs.grouped(2).toSeq) === want)
    assert(run("at_onebatch", Seq(evs)) === want)
  }

  test("streaming transitions match the batch lead-pair stage") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // (user_id, event_type, time, event_id) — user 1 has a same-second
    // pair (ordered by event_id, the batch sort key) and an out-of-order
    // arrival (t=150 lands after t=200 was ingested but within the
    // watermark delay, so the edge order must still be by event time);
    // user 2 has a single event → no edges.
    val evs = Seq(
      (1L, "signup", 100L, 1L), (1L, "click", 100L, 2L),
      (1L, "purchase", 200L, 4L), (1L, "click", 150L, 3L),
      (2L, "signup", 120L, 5L))
    def batchTwin: Set[(Long, String, String, Long, Long)] =
      evs.groupBy(_._1).flatMap { case (u, es) =>
        es.sortBy(e => (e._3, e._4)).sliding(2).collect {
          case Seq(a, b) => (u, a._2, b._2, a._3, b._3)
        }
      }.toSet
    def run(tag: String, batches: Seq[Seq[(Long, String, Long, Long)]]) = {
      val ms = MemoryStream[(Long, String, Long, Long)]
      val f = StreamOps.transitions(spark,
        ms.toDF().toDF("user_id", "event_type", "time", "event_id"),
        watermarkDelay = "60 seconds")
      assert(f.isStreaming)
      val q = f.writeStream.outputMode("append").format("memory").queryName(tag).start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        ms.addData(Seq((999L, "signup", 100000L, 999L))); q.processAllAvailable()
        spark.sql(s"select user_id, src, dst, t_src, t_dst from $tag where user_id <> 999")
          .as[(Long, String, String, Long, Long)].collect().toSet
      } finally q.stop()
    }
    val want = batchTwin
    assert(want === Set(
      (1L, "signup", "click", 100L, 100L),
      (1L, "click", "click", 100L, 150L),
      (1L, "click", "purchase", 150L, 200L)))
    assert(run("tr_stagger", evs.grouped(2).toSeq) === want)
    assert(run("tr_onebatch", Seq(evs)) === want)
  }

  test("streaming SCD2 emits the batch operator's episodes: closed on change, current on eviction") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // (key, time, event_id, attr) — user 1 repeats 'a' (must collapse),
    // flips to 'b' and back; the t=260 repeat arrives OUT OF ORDER a
    // batch AFTER t=300 but above the then-current watermark (240), so
    // it must be buffered and folded back into event-time order. user 2
    // never changes. (Rows at/below the watermark on ARRIVAL are dropped
    // by Spark before the stateful operator — fixture times stay above
    // it, the PsiDayOverDay lesson.)
    val evs = Seq(
      (1L, 100L, 1L, "a"), (1L, 300L, 3L, "b"), (1L, 260L, 2L, "a"),
      (1L, 400L, 4L, "a"), (2L, 500L, 5L, "x"))
    val batches = Seq(
      Seq((1L, 100L, 1L, "a")),
      Seq((1L, 300L, 3L, "b")),
      Seq((1L, 260L, 2L, "a"), (1L, 400L, 4L, "a"), (2L, 500L, 5L, "x")))
    val ms = MemoryStream[(Long, Long, Long, String)]
    val f = StreamOps.scd2(spark,
      ms.toDF().toDF("key", "time", "event_id", "attr"),
      watermarkDelay = "60 seconds", retentionSecs = 1000L)
    assert(f.isStreaming)
    val q = f.writeStream.outputMode("append").format("memory")
      .queryName("scd2s").start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      // watermark push far past retention: evicts users 1 and 2, flushing
      // their OPEN episodes as is_current=true rows
      ms.addData(Seq((999L, 100000L, 999L, "z"))); q.processAllAvailable()
      ms.addData(Seq((999L, 200000L, 998L, "z"))); q.processAllAvailable()
      val got = spark.sql("select * from scd2s where key <> 999")
        .as[StreamOps.Scd2Ep].collect()
        .map(e => (e.key, e.attr, e.valid_from, e.valid_to, e.version, e.is_current))
        .toSet
      val want = graft.operators.Scd2.history(
          evs.toDF("key", "time", "event_id", "attr"),
          Seq("key"), "time", Seq("attr"), Seq("event_id")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getInt(4), r.getBoolean(5)))
        .toSet
      assert(want.exists(_._6) && want.exists(!_._6),
        "fixture must produce both closed and current episodes")
      assert(got === want)
      ()
    } finally q.stop()
  }

  test("streaming SCD2 lookup stamps facts with the batch as-of state, including the equality match") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // (key, time, event_id, kind, attr) — fact@90 precedes any state
    // (NULL enrichment); fact@200 shares its second with the b-flip AND
    // carries a SMALLER event_id, so the obs-before-fact rule (the batch
    // as-of equality match), not id order, must decide; obs@250 repeats
    // (collapses); f1@150 arrives a batch late but above the watermark.
    val rows = Seq(
      (1L, 90L, 10L, "fact", ""), (1L, 100L, 11L, "obs", "a"),
      (1L, 150L, 12L, "fact", ""), (1L, 200L, 14L, "obs", "b"),
      (1L, 200L, 13L, "fact", ""), (1L, 250L, 15L, "obs", "b"),
      (1L, 300L, 16L, "fact", ""), (2L, 500L, 17L, "obs", "x"),
      (2L, 600L, 18L, "fact", ""))
    val batches = Seq(
      Seq(rows(0), rows(1)), Seq(rows(3), rows(2)),
      rows.drop(4))
    val ms = MemoryStream[(Long, Long, Long, String, String)]
    val f = StreamOps.scd2Lookup(spark,
      ms.toDF().toDF("key", "time", "event_id", "kind", "attr"),
      watermarkDelay = "60 seconds", retentionSecs = 1000L)
    val q = f.writeStream.outputMode("append").format("memory")
      .queryName("scd2lk").start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      ms.addData(Seq((999L, 100000L, 999L, "obs", "z"))); q.processAllAvailable()
      ms.addData(Seq((999L, 200000L, 998L, "obs", "z"))); q.processAllAvailable()
      val got = spark.sql("select * from scd2lk where key <> 999")
        .as[StreamOps.EnrichedFact].collect()
        .map(e => (e.key, e.time, e.event_id, e.state, e.state_since, e.version))
        .toSet
      // batch composition on the same rows: Scd2.history ∘ AsofJoin.backward
      val df = rows.toDF("key", "time", "event_id", "kind", "attr")
      val dim = graft.operators.Scd2.history(
          df.filter(col("kind") === "obs").drop("kind"),
          Seq("key"), "time", Seq("attr"), Seq("event_id"))
        .select(col("key"), col("valid_from").as("time"),
          col("attr").as("state"), col("version"))
      val facts = df.filter(col("kind") === "fact")
        .select(col("key"), col("time"), col("event_id"))
      val want = graft.operators.AsofJoin.backward(facts, dim, Seq("key"),
          "time", Seq("state", "version"), matchedTimeCol = "state_since")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.getString(4)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(5)) None else Some(r.getInt(5))))
        .toSet
      assert(want.exists(_._4.isEmpty) && want.exists(_._4.nonEmpty),
        "fixture must cover both NULL and matched enrichment")
      assert(got === want)
      ()
    } finally q.stop()
  }

  test("streaming index maintenance: multi-wave appends equal full rebuild; replays are skipped") {
    import graft.pipeline.TextIndex
    import org.apache.spark.sql.types._
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val idx = Files.createTempDirectory("graft-stream-tix").toString + "/i"
    TextIndex.build(docs.filter(col("doc_id") < 300), idx)
    val streamDir = Files.createTempDirectory("graft-stream-docs").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString + "/c"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def stream(cp: String) = StreamOps.indexMaintenance(
      spark.readStream.schema(schema).json(streamDir), idx, cp)
    // wave 1 → batch 0
    docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .write.mode("append").json(streamDir)
    stream(ckpt).awaitTermination(120000)
    // wave 2 → batch 1 (same checkpoint picks up only the new files)
    docs.filter(col("doc_id") >= 400).write.mode("append").json(streamDir)
    stream(ckpt).awaitTermination(120000)
    val full = Files.createTempDirectory("graft-stream-full").toString + "/i"
    TextIndex.build(docs, full)
    val q = Seq("spark", "hash", "merge")
    def probe(p: String) = TextIndex.topK(spark, p, q, 20).collect().map(_.toSeq).toSeq
    assert(probe(idx) === probe(full), "streamed index must serve the full-rebuild ranking")
    // replay guard: a FRESH checkpoint restarts batch ids at 0 — the
    // _last_batch sidecar (1) must skip them, leaving the index unchanged
    stream(Files.createTempDirectory("graft-stream-ckpt2").toString + "/c")
      .awaitTermination(120000)
    assert(probe(idx) === probe(full), "replayed batches must not double-index")
  }

  test("streaming sketch maintenance: multi-wave cell merges equal one-shot build; replays skipped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val b = 86400L
    // 3 days × 2 series, ≤40 distinct uids (sparse HLL → exact estimates);
    // waves split MID-DAY so day cells must merge across batches
    val evs = (for {
      s <- Seq("api", "web"); d <- 0 to 2; i <- 1 to 120
    } yield (s, d * b + i.toLong, (i % (if (s == "api") 29 else 40)).toLong))
      .sortBy(_._2).toVector
    val store = Files.createTempDirectory("graft-stream-hll").toString + "/s"
    val streamDir = Files.createTempDirectory("graft-stream-evs").toString
    val ckpt = Files.createTempDirectory("graft-stream-hllck").toString + "/c"
    val schema = StructType(Seq(StructField("series", StringType),
      StructField("time", LongType), StructField("uid", LongType)))
    def stream(cp: String) = StreamOps.sketchMaintenance(
      spark.readStream.schema(schema).json(streamDir), store, cp)
    def probe(cellDir: String) =
      graft.functions.Approx.hllMergeNdv(
        spark.read.parquet(cellDir), Seq(col("series")))
        .select(col("series"), col("ndv_est").cast("long"), col("n_rows"))
        .as[(String, Long, Long)].collect().toSet
    // wave 1: first 1.5 days; wave 2: the rest (day 1 cells must merge)
    val (w1, w2) = evs.partition(_._2 < (3 * b) / 2)
    w1.toDF("series", "time", "uid").write.mode("append").json(streamDir)
    stream(ckpt).awaitTermination(120000)
    w2.toDF("series", "time", "uid").write.mode("append").json(streamDir)
    stream(ckpt).awaitTermination(120000)
    // one-shot batch build over everything
    val full = Files.createTempDirectory("graft-stream-hllfull").toString + "/cells"
    graft.functions.Approx.hllCells(
      evs.toDF("series", "time", "uid")
        .withColumn("day", col("time") - pmod(col("time"), lit(b))),
      col("uid"), Seq(col("series"), col("day")))
      .write.partitionBy("day").parquet(full)
    assert(probe(s"$store/cells") === probe(full),
      "streamed cells must serve the one-shot build's estimates")
    // per-day cells exact too (day is the partition column)
    val perDay = spark.read.parquet(s"$store/cells")
      .select(col("series"), col("day"), col("n_rows"))
      .as[(String, Long, Long)].collect().toSet
    assert(perDay === evs.groupBy(e => (e._1, e._2 - e._2 % b))
      .map { case ((s, d), rs) => (s, d, rs.size.toLong) }.toSet)
    // replay guard: fresh checkpoint restarts batch ids — sidecar skips
    stream(Files.createTempDirectory("graft-stream-hllck2").toString + "/c")
      .awaitTermination(120000)
    assert(probe(s"$store/cells") === probe(full),
      "replayed batches must not double-count")
  }

  test("streaming t-digest cell maintenance: engine serves from the maintained store; replays skipped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val b = 86400L
    // 2 series × 3 days × 60 points; waves split MID-DAY so day-1 cells
    // must merge digests across batches
    val pts = (for {
      s <- Seq("api", "web"); d <- 0 to 2; i <- 0 until 60
    } yield (s, d * b + i * 1000L + 1, (i % 20).toDouble + (if (s == "api") 0 else 100)))
      .sortBy(_._2).toVector
    // the ENGINE's store: same points appended BEFORE any cell store
    // exists (so append's auto-refresh has nothing to touch), then the
    // stream maintains the store-convention cells the engine routes to
    val root = Files.createTempDirectory("graft-stream-td").toString + "/s"
    val store = new graft.storage.SeriesStore(spark, root)
    store.append(pts.toDF("series", "time", "value")
      .withColumn("tags", map(lit("h"), lit("x")))
      .select("series", "tags", "time", "value"))
    val cellsDir = graft.storage.SketchCells.dirFor(store)
    val streamDir = Files.createTempDirectory("graft-stream-tdin").toString
    val ckpt = Files.createTempDirectory("graft-stream-tdck").toString + "/c"
    val schema = StructType(Seq(StructField("series", StringType),
      StructField("series_id", LongType), StructField("time", LongType),
      StructField("value", DoubleType)))
    def feed(rows: Seq[(String, Long, Double)]): Unit =
      rows.toDF("series", "time", "value")
        .withColumn("series_id",
          graft.core.Functions.seriesId(col("series"), map(lit("h"), lit("x"))))
        .select("series", "series_id", "time", "value")
        .write.mode("append").json(streamDir)
    def stream(cp: String) = StreamOps.tdigestCellMaintenance(
      spark.readStream.schema(schema).json(streamDir), cellsDir, cp)
    val (w1, w2) = pts.partition(_._2 < (3 * b) / 2)
    feed(w1); stream(ckpt).awaitTermination(120000)
    feed(w2); stream(ckpt).awaitTermination(120000)
    // exact per-cell row counts (the part that must be exact)
    val perDay = spark.read.parquet(s"$cellsDir/td")
      .select(col("series"), col("day"), col("n_rows"))
      .as[(String, Long, Long)].collect().toSet
    assert(perDay === pts.groupBy(p => (p._1, p._2 - p._2 % b))
      .map { case ((s, d), rs) => (s, d, rs.size.toLong) }.toSet)
    // build ≡ stream: a one-shot build over the same points writes the
    // same table and the same exact partials
    val builtDir = Files.createTempDirectory("graft-stream-tdbuilt").toString
    graft.storage.SketchCells.build(store, builtDir)
    assertCellsMatchBuild(s"$cellsDir/td", s"$builtDir/td", Seq("series_id", "day"))
    // END-TO-END: the engine routes percentile_approx through the
    // maintained cells (day-aligned window) and the merged-digest answer
    // sits inside the exact ±0.05-quantile window of the raw data
    val servedRes = graft.sydraql.Engine.executeOnStore(store,
      s"select percentile_approx(value, 0.5) as p50a from api " +
        s"where time >= 0 and time < ${3 * b}",
      graft.sydraql.CompileOptions(now = 0L))
    assert(cellTable(servedRes).contains("sketchcells"), "query must serve from the maintained cells")
    val served = servedRes.df
    val p50 = served.head().getDouble(0)
    val apiVals = pts.filter(_._1 == "api").map(_._3).sorted
    def q(f: Double) = apiVals((f * (apiVals.length - 1)).round.toInt)
    assert(p50 >= q(0.45) && p50 <= q(0.55),
      s"served p50 $p50 outside exact [${q(0.45)}, ${q(0.55)}]")
    // replay guard: fresh checkpoint restarts batch ids — without the
    // sidecar the merge would double every n_rows
    stream(Files.createTempDirectory("graft-stream-tdck2").toString + "/c")
      .awaitTermination(120000)
    val perDay2 = spark.read.parquet(s"$cellsDir/td")
      .select(col("series"), col("day"), col("n_rows"))
      .as[(String, Long, Long)].collect().toSet
    assert(perDay2 === perDay, "replayed batches must not double-count")
  }

  test("streaming cell maintenance: tag-keyed tier maintained per batch; tag-less batch refused loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val b = 86400L
    // seed: days 0-1, host a/b alternating
    val seed = (for { d <- 0 to 1; i <- 1 to 20 } yield
      ("api", d * b + i * 600L, (d * 100 + i).toDouble, if (i % 2 == 0) "a" else "b")).toVector
    val root = Files.createTempDirectory("graft-stream-tag").toString + "/s"
    val store = new graft.storage.SeriesStore(spark, root)
    def asPts(rows: Seq[(String, Long, Double, String)]) =
      rows.toDF("series", "time", "value", "host")
        .withColumn("tags", map(lit("host"), col("host")))
        .select("series", "tags", "time", "value")
    store.append(asPts(seed)) // before any cells exist: no auto-refresh
    val cellsDir = graft.storage.SketchCells.dirFor(store)
    graft.storage.SketchCells.build(store, cellsDir, groupTags = Seq("host"))
    // stream wave: more day-1 points + a brand-new day 2
    val wave = (for { d <- 1 to 2; i <- 21 to 40 } yield
      ("api", d * b + i * 600L, (d * 100 + i).toDouble, if (i % 2 == 0) "a" else "b")).toVector
    val streamDir = Files.createTempDirectory("graft-stream-tagin").toString
    val ckpt = Files.createTempDirectory("graft-stream-tagck").toString + "/c"
    val schema = StructType(Seq(StructField("series", StringType),
      StructField("series_id", LongType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("time", LongType), StructField("value", DoubleType)))
    asPts(wave)
      .withColumn("series_id", graft.core.Functions.seriesId(col("series"), col("tags")))
      .select("series", "series_id", "tags", "time", "value")
      .write.mode("append").json(streamDir)
    StreamOps.tdigestCellMaintenance(
      spark.readStream.schema(schema).json(streamDir), cellsDir, ckpt)
      .awaitTermination(120000)
    // exact per-(day, host) row counts in the maintained tag tier
    val all = seed ++ wave
    val perCell = spark.read.parquet(s"$cellsDir/tdtag/host")
      .select(col("tagval"), col("day"), col("n_rows"))
      .as[(String, Long, Long)].collect().toSet
    assert(perCell === all.groupBy(p => (p._4, p._2 - p._2 % b))
      .map { case ((h, d), rs) => (h, d, rs.size.toLong) }.toSet)
    // build ≡ stream, td AND tag tier: a one-shot build over a store of
    // every point (seed + wave) writes the same tables and partials
    val allStore = new graft.storage.SeriesStore(spark,
      Files.createTempDirectory("graft-stream-tagall").toString + "/s")
    allStore.append(asPts(all))
    val builtDir = Files.createTempDirectory("graft-stream-tagbuilt").toString
    graft.storage.SketchCells.build(allStore, builtDir, groupTags = Seq("host"))
    assertCellsMatchBuild(s"$cellsDir/td", s"$builtDir/td", Seq("series_id", "day"))
    assertCellsMatchBuild(s"$cellsDir/tdtag/host", s"$builtDir/tdtag/host",
      Seq("series_id", "tagval", "day"))
    // end-to-end: the engine's tag-grouped quantile serves from the
    // maintained tier within the exact band (raw store lacks the wave —
    // a raw fallthrough would give the WRONG per-host medians here, so
    // this also proves the route)
    val servedRes = graft.sydraql.Engine.executeOnStore(store,
      s"select tag.host as h, percentile_approx(value, 0.5) as p50a from api " +
        s"where time >= 0 and time < ${3 * b} group by tag.host order by h",
      graft.sydraql.CompileOptions(now = 0L))
    assert(cellTable(servedRes).contains("tdtag"), "tag-grouped query must serve from the maintained tier")
    val served = servedRes.df
    val got = served.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (h <- Seq("a", "b")) {
      val vals = all.filter(_._4 == h).map(_._3).sorted
      def q(f: Double) = vals((f * (vals.length - 1)).round.toInt)
      assert(got(h) >= q(0.45) && got(h) <= q(0.55),
        s"host $h served p50 ${got(h)} outside exact [${q(0.45)}, ${q(0.55)}]")
    }
    // r14: the stream-maintained basic partials serve EXACTLY — again,
    // the raw store lacks the wave, so correct sums/counts/extremes can
    // only come from the maintained tier (sum of integer-valued doubles
    // is exact, no rounding needed)
    val basicsRes = graft.sydraql.Engine.executeOnStore(store,
      s"select tag.host as h, sum(value) as sv, count() as n, " +
        s"min(value) as mn, max(value) as mx from api " +
        s"where time >= 0 and time < ${3 * b} group by tag.host order by h",
      graft.sydraql.CompileOptions(now = 0L))
    assert(cellTable(basicsRes).contains("tdtag"), "basic aggs must serve from the maintained tier")
    val basics = basicsRes.df
    val gotB = basics.collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    for (h <- Seq("a", "b")) {
      val vals = all.filter(_._4 == h).map(_._3)
      assert(gotB(h) === ((vals.sum, vals.size.toLong, vals.min, vals.max)),
        s"host $h basic aggs ${gotB(h)} != exact (${vals.sum}, ${vals.size}, ${vals.min}, ${vals.max})")
    }
    // a TAG-LESS stream against a tag-tiered store must refuse loudly,
    // not leave the tier silently stale
    val store2 = new graft.storage.SeriesStore(spark,
      Files.createTempDirectory("graft-stream-tag2").toString + "/s")
    store2.append(asPts(seed))
    val cells2 = graft.storage.SketchCells.dirFor(store2)
    graft.storage.SketchCells.build(store2, cells2, groupTags = Seq("host"))
    val plainDir = Files.createTempDirectory("graft-stream-tagplain").toString
    wave.toDF("series", "time", "value", "host")
      .withColumn("series_id", graft.core.Functions.seriesId(col("series"),
        map(lit("host"), col("host"))))
      .select("series", "series_id", "time", "value")
      .write.mode("append").json(plainDir)
    val schemaPlain = StructType(Seq(StructField("series", StringType),
      StructField("series_id", LongType),
      StructField("time", LongType), StructField("value", DoubleType)))
    val tdBefore = spark.read.parquet(s"$cells2/td")
      .select(col("day"), col("n_rows"))
      .as[(Long, Long)].collect().toSet
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = StreamOps.tdigestCellMaintenance(
        spark.readStream.schema(schemaPlain).json(plainDir), cells2,
        Files.createTempDirectory("graft-stream-tagck2").toString + "/c")
      q2.awaitTermination(120000)
      ()
    }
    assert(ex.getMessage.contains("tags column") ||
      Option(ex.getCause).exists(_.getMessage.contains("tags column")),
      s"refusal must name the missing tags column: ${ex.getMessage}")
    // r14 (ADVICE): the refusal fires BEFORE any publish — the td tier
    // must be byte-identical, or every restart would replay the batch
    // into already-merged digests and double-count
    val tdAfter = spark.read.parquet(s"$cells2/td")
      .select(col("day"), col("n_rows"))
      .as[(Long, Long)].collect().toSet
    assert(tdAfter === tdBefore,
      "a refused batch must leave the td tier untouched (no pre-validation publish)")
  }

  test("streaming cell maintenance: theta NDV cells maintained per batch (r14); served ndv sees streamed-only values") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val b = 86400L
    // seed: days 0-1, hosts a/b only
    val seed = (for { d <- 0 to 1; i <- 1 to 20 } yield
      ("api", d * b + i * 600L, (d * 100 + i).toDouble, if (i % 2 == 0) "a" else "b")).toVector
    val root = Files.createTempDirectory("graft-stream-ndv").toString + "/s"
    val store = new graft.storage.SeriesStore(spark, root)
    def asPts(rows: Seq[(String, Long, Double, String)]) =
      rows.toDF("series", "time", "value", "host")
        .withColumn("tags", map(lit("host"), col("host")))
        .select("series", "tags", "time", "value")
    store.append(asPts(seed))
    val cellsDir = graft.storage.SketchCells.dirFor(store)
    // theta NDV cells in the td table AND the tag tier
    graft.storage.SketchCells.build(store, cellsDir,
      ndvTags = Seq("host"), groupTags = Seq("host"))
    // stream wave introduces host "c" on a brand-new day 2 — a stale
    // tier would keep answering 2, only the maintained theta can say 3
    val wave = (for { i <- 21 to 40 } yield
      ("api", 2 * b + i * 600L, (200 + i).toDouble, "c")).toVector
    val streamDir = Files.createTempDirectory("graft-stream-ndvin").toString
    val ckpt = Files.createTempDirectory("graft-stream-ndvck").toString + "/c"
    val schema = StructType(Seq(StructField("series", StringType),
      StructField("series_id", LongType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("time", LongType), StructField("value", DoubleType)))
    asPts(wave)
      .withColumn("series_id", graft.core.Functions.seriesId(col("series"), col("tags")))
      .select("series", "series_id", "tags", "time", "value")
      .write.mode("append").json(streamDir)
    StreamOps.tdigestCellMaintenance(
      spark.readStream.schema(schema).json(streamDir), cellsDir, ckpt)
      .awaitTermination(120000)
    // the engine's global ndv serves from the maintained theta cells —
    // 3 hosts in the sparse-exact regime, the raw store lacks the wave
    val servedRes = graft.sydraql.Engine.executeOnStore(store,
      s"select ndv(tag.host) as nd, count() as n from api " +
        s"where time >= 0 and time < ${3 * b}",
      graft.sydraql.CompileOptions(now = 0L))
    assert(cellTable(servedRes).contains("sketchcells"), "ndv must serve from the maintained cells")
    val served = servedRes.df
    val row = served.head()
    assert(row.getDouble(0) === 3.0,
      s"maintained theta must see streamed host c: ndv ${row.getDouble(0)}")
    assert(row.getLong(1) === (seed.size + wave.size).toLong)
    // the tag tier's theta cells were maintained too: ndv-under-tag
    // serves per host, and host c exists ONLY in the stream
    val perHostRes = graft.sydraql.Engine.executeOnStore(store,
      s"select tag.host as h, ndv(tag.host) as nd from api " +
        s"where time >= 0 and time < ${3 * b} group by tag.host order by h",
      graft.sydraql.CompileOptions(now = 0L))
    assert(cellTable(perHostRes).contains("tdtag"), "ndv-under-tag must serve from the maintained tier")
    val perHost = perHostRes.df
    assert(perHost.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      === Seq(("a", 1.0), ("b", 1.0), ("c", 1.0)))
  }

  test("streaming skip-index maintenance: maintained manifest equals full rebuild; replays skipped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.storage.{SeriesStore, SkipIndex}
    // 4 hours × 2 series; waves split MID-HOUR so touched-hour refresh
    // must merge a batch into hours that already have files
    val pts = (for {
      s <- Seq("cpu", "mem"); h <- 0 to 3; i <- 1 to 30
    } yield (s, h * 3600L + i.toLong * 60, (h * 30 + i).toDouble))
      .sortBy(_._2).toVector
    val root = Files.createTempDirectory("graft-stream-skip").toString + "/s"
    val mdir = Files.createTempDirectory("graft-stream-skipm").toString + "/m"
    val streamDir = Files.createTempDirectory("graft-stream-skippts").toString
    val ckpt = Files.createTempDirectory("graft-stream-skipck").toString + "/c"
    val schema = StructType(Seq(StructField("series", StringType),
      StructField("time", LongType), StructField("value", DoubleType)))
    def stream(cp: String) = StreamOps.skipIndexMaintenance(
      spark.readStream.schema(schema).json(streamDir)
        .withColumn("tags", map(lit("host"), col("series"))), root, mdir, cp)
    val (w1, w2) = pts.partition(_._2 < 3600L * 3 / 2)
    w1.toDF("series", "time", "value").write.mode("append").json(streamDir)
    stream(ckpt).awaitTermination(120000)
    w2.toDF("series", "time", "value").write.mode("append").json(streamDir)
    stream(ckpt).awaitTermination(120000)
    // the maintained manifest must equal a full rebuild of the SAME store
    val store = new SeriesStore(spark, root)
    val full = Files.createTempDirectory("graft-stream-skipfull").toString + "/m"
    SkipIndex.build(store, full)
    def rows(d: String) = SkipIndex.read(spark, d)
      .collect().map(_.toSeq).toSet
    assert(rows(mdir) === rows(full), "maintained manifest must equal a rebuild")
    // and it probes correctly: series 'cpu', hours 1-2 window
    val sid = spark.range(1).select(graft.core.Functions.seriesId(
      lit("cpu"), map(lit("host"), lit("cpu"))).as("s")).head().getLong(0)
    val probe = SkipIndex.scan(store, mdir, graft.storage.ScanProbe(
      lo = Some(3600L), hi = Some(2 * 3600L + 1800), seriesId = Some(sid)))
    assert(probe.filesRead < probe.filesTotal, "pruning evidence")
    val got = probe.df.select("time", "value").orderBy("time")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = pts.filter(p => p._1 == "cpu" && p._2 >= 3600L && p._2 <= 2 * 3600L + 1800)
      .map(p => (p._2, p._3)).sortBy(_._1)
    assert(got === want)
    // replay guard: fresh checkpoint restarts batch ids — sidecar skips,
    // nothing double-appends into the store or the manifest
    stream(Files.createTempDirectory("graft-stream-skipck2").toString + "/c")
      .awaitTermination(120000)
    assert(rows(mdir) === rows(full), "replayed batches must not re-append")
  }

  /** Rows `twin` emits over ndjson files read with `schema`, one file per
    * micro-batch in the order given, through one checkpointed
    * AvailableNow run per element of `runs` (the files that run adds).
    */
  private def rowsAcrossRuns[T](schema: String, runs: Seq[Seq[(String, Seq[String])]])(
      twin: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[T]): Seq[T] = {
    val dir = Files.createTempDirectory("graft-restart")
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val acc = scala.collection.mutable.ArrayBuffer[T]()
    val t0 = System.currentTimeMillis() - 60000L
    var written = 0
    runs.foreach { files =>
      files.foreach { case (name, lines) =>
        ndjsonDir(lines, dir, name)
        // the file source takes files oldest first
        Files.setLastModifiedTime(dir.resolve(name),
          java.nio.file.attribute.FileTime.fromMillis(t0 + 1000L * written))
        written += 1
      }
      val q = twin(spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .json(dir.toString))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[T], _: Long) =>
          acc.synchronized { acc ++= b.collect() }
          ()
        }
        .start()
      try { q.awaitTermination(60000); () } finally q.stop()
    }
    acc.toSeq
  }

  test("funnel state and pending events recover across a checkpointed restart") {
    // user 1's signup confirms before the restart, its click waits in
    // pending across it, and its purchase arrives after it
    val before = "a.ndjson" -> Seq(
      """{"user_id":1,"event_type":"signup","time":100}""",
      """{"user_id":1,"event_type":"click","time":150}""",
      """{"user_id":2,"event_type":"signup","time":120}""",
      """{"user_id":3,"event_type":"click","time":130}""")
    val after = "b.ndjson" -> Seq(
      """{"user_id":1,"event_type":"purchase","time":300}""",
      """{"user_id":2,"event_type":"purchase","time":310}""",
      """{"user_id":4,"event_type":"signup","time":320}""",
      """{"user_id":999,"event_type":"signup","time":100000}""")
    def rows(runs: Seq[Seq[(String, Seq[String])]]) =
      rowsAcrossRuns("user_id LONG, event_type STRING, time LONG", runs) { ev =>
        StreamOps.funnel(spark, ev, Seq("signup", "click", "purchase"),
          watermarkDelay = "5 seconds")
      }.map(p => (p.user_id, p.stage, p.times)).sortBy(_.toString)
    val split = rows(Seq(Seq(before), Seq(after)))
    assert(split === rows(Seq(Seq(before, after))))
    assert(split === Seq(
      (1L, 1, Seq(100L)), (1L, 3, Seq(100L, 150L, 300L)),
      (2L, 1, Seq(120L)), (4L, 1, Seq(320L))).sortBy(_.toString))
  }

  test("day-over-day open buckets and closed carry recover across a checkpointed restart") {
    // before the restart bucket 0 closes and bucket 600 stays open; after
    // it, 1200 pairs with the carried 0 and 1800 with the restored 600
    val before = "a.ndjson" -> Seq(
      """{"series":"a","time":10,"value":1.0}""",
      """{"series":"a","time":20,"value":3.0}""",
      """{"series":"b","time":30,"value":0.0}""",
      """{"series":"a","time":650,"value":4.0}""")
    val after = "b.ndjson" -> Seq(
      """{"series":"b","time":1210,"value":7.0}""",
      """{"series":"a","time":1250,"value":1.0}""",
      """{"series":"a","time":1260,"value":5.0}""",
      """{"series":"a","time":1850,"value":6.0}""",
      """{"series":"zz","time":100000,"value":1.0}""")
    def rows(runs: Seq[Seq[(String, Seq[String])]]) =
      rowsAcrossRuns("series STRING, time LONG, value DOUBLE", runs) { pts =>
        StreamOps.dayOverDay(spark, pts, 600L, 1200L, watermarkDelay = "5 seconds")
      }.sortBy(d => (d.series, d.bucket))
    val split = rows(Seq(Seq(before), Seq(after)))
    assert(split === rows(Seq(Seq(before, after))))
    assert(split === Seq(
      StreamOps.DayOverDay("a", 1200L, 3.0, 2.0, 1.0, Some(1.5)),
      StreamOps.DayOverDay("a", 1800L, 6.0, 4.0, 2.0, Some(1.5)),
      StreamOps.DayOverDay("b", 1200L, 7.0, 0.0, 7.0, None)))
  }
}
