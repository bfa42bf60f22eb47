package graft

import graft.storage.{Ingest, Maintenance, ScanProbe, SeriesStore}
import graft.sydraql.{CompileOptions, Engine}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Engine round-trip fixtures from the reference's tests (FIXTURES.md §3:
  * engine.zig:452-541) on the Spark storage layer.
  */
class StorageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft-store").toString

  private def writeNdjson(lines: Seq[String]): String = {
    val d = Files.createTempDirectory("graft-ndjson")
    Files.write(d.resolve("in.ndjson"), lines.mkString("\n").getBytes)
    d.toString
  }

  test("ingest -> flush -> range query round-trip with tags (engine.zig:452-495)") {
    val store = new SeriesStore(spark, tmp())
    val n = Ingest.batch(store, writeNdjson(Seq(
      """{"series":"cpu.total","ts":1000,"value":1.5,"tags":{"host":"a"}}""",
      """{"series":"cpu.total","ts":1500,"value":2.25,"tags":{"host":"a"}}""")))
    assert(n === 2)
    val got = store.scanRange(0, 10000).orderBy("time")
      .select("time", "value").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === Seq((1000L, 1.5), (1500L, 2.25)))
    // tag find -> one series id
    assert(store.findSeries(Map("host" -> "a")).count() === 1)
    assert(store.findSeries(Map("host" -> "nope")).count() === 0)
    assert(store.findSeries(Map("host" -> "nope", "x" -> "y"), "or").count() === 0)
  }

  test("value fallback: fields first-numeric, else 0 (http.zig:683-699)") {
    val store = new SeriesStore(spark, tmp())
    Ingest.batch(store, writeNdjson(Seq(
      """{"series":"cpu.x","ts":10,"fields":{"usage":0.93,"idle":0.07}}""",
      """{"series":"cpu.x","ts":20}""")))
    val got = store.source().orderBy("time").select("value").collect().map(_.getDouble(0))
    assert(got.toSeq === Seq(0.93, 0.0))
  }

  test("hour partitioning + retention partition drop (retention.zig:4-20)") {
    val store = new SeriesStore(spark, tmp())
    Ingest.batch(store, writeNdjson(Seq(
      """{"series":"m","ts":100,"value":1}""",
      """{"series":"m","ts":4000,"value":2}""",
      """{"series":"m","ts":8000,"value":3}""")))
    assert(store.partitions() === Seq(0L, 3600L, 7200L))
    val dropped = Maintenance.applyRetention(store, cutoffTs = 4000)
    assert(dropped === Seq(0L))
    assert(store.partitions() === Seq(3600L, 7200L))
    assert(store.source().count() === 2)
  }

  test("per-namespace retention TTL (config.zig:96-105, retention.zig:4-20)") {
    val now = 1704844800L
    val store = new SeriesStore(spark, tmp())
    Ingest.batch(store, writeNdjson(Seq(
      s"""{"series":"cpu.total","ts":${now - 2 * 86400},"value":1.0}""",  // cpu ttl=1d → expired
      s"""{"series":"cpu.total","ts":${now - 3600},"value":2.0}""",       // cpu fresh → kept
      s"""{"series":"mem.used","ts":${now - 2 * 86400},"value":3.0}""",   // mem ttl=10d → kept
      s"""{"series":"mem.used","ts":${now - 20 * 86400},"value":4.0}""")))// older than max ttl → partition drop
    val dropped = Maintenance.applyRetention(store, defaultTtlDays = 10,
      nsTtlDays = Map("cpu" -> 1L), nowTs = now)
    // fast path dropped the 20-day-old partition (expired for EVERY ttl)
    assert(dropped === Seq(Math.floorDiv(now - 20 * 86400, 3600L) * 3600L))
    val left = store.source().orderBy("time").collect()
      .map(r => (r.getAs[String]("series"), r.getAs[Double]("value"))).toSeq
    assert(left === Seq(("mem.used", 3.0), ("cpu.total", 2.0)))
    // ttl=0 keeps forever: nothing else expires even at a far-future now
    assert(Maintenance.applyRetention(store, defaultTtlDays = 0,
      nsTtlDays = Map.empty, nowTs = now + 365 * 86400L) === Nil)
    assert(store.source().count() === 2)
  }

  test("compaction dedups identical (series,ts) keeping last write (compact.zig:36-50)") {
    val store = new SeriesStore(spark, tmp())
    Ingest.batch(store, writeNdjson(Seq("""{"series":"m","ts":100,"value":1.0}""")))
    Ingest.batch(store, writeNdjson(Seq("""{"series":"m","ts":100,"value":9.0}"""))) // later write wins
    assert(store.source().count() === 2)
    Maintenance.compact(store)
    val rows = store.source().collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Double]("value") === 9.0)
  }

  test("per-partition compaction dedups one hour, leaves others untouched") {
    val store = new SeriesStore(spark, tmp())
    Ingest.batch(store, writeNdjson(Seq(
      """{"series":"m","ts":100,"value":1.0}""",
      """{"series":"m","ts":4000,"value":2.0}""")))
    Ingest.batch(store, writeNdjson(Seq(
      """{"series":"m","ts":100,"value":9.0}""",
      """{"series":"m","ts":4000,"value":8.0}""")))
    assert(store.source().count() === 4)
    Maintenance.compactPartitions(store, Seq(0L))
    val byHour = store.scan().groupBy("hour_bucket").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byHour === Map(0L -> 1L, 3600L -> 2L)) // hour 0 deduped, hour 1 untouched
    val kept = store.source().filter(org.apache.spark.sql.functions.col("time") === 100)
      .head().getAs[Double]("value")
    assert(kept === 9.0)
  }

  test("object store: round-trip, snapshot dedup, restore equality, ref-rooted GC") {
    import spark.implicits._
    import graft.storage.ObjectStore
    val store = new graft.storage.SeriesStore(spark, tmp())
    store.append(Seq(
      ("cpu", Map("h" -> "a"), 1000L, 1.0), ("cpu", Map("h" -> "a"), 7200L, 2.0))
      .toDF("series", "tags", "time", "value"))
    val os = new ObjectStore(tmp())
    // blob round-trip (object_store.zig's own test shape)
    val id = os.put(ObjectStore.Blob, "hello world".getBytes("UTF-8"))
    val (t, payload) = os.get(id)
    assert(t === ObjectStore.Blob && new String(payload, "UTF-8") === "hello world")
    assert(os.put(ObjectStore.Blob, "hello world".getBytes("UTF-8")) === id,
      "same content, same id — the dedup")
    // snapshot 1
    val c1 = os.snapshot(store, "main")
    val n1 = os.objectCount
    // unchanged store → second snapshot adds ONLY a new commit (tree and
    // every blob dedup to the same ids)
    val c2 = os.snapshot(store, "main")
    assert(os.objectCount === n1 + 1, "idempotent snapshot must add just the commit")
    // append one hour → third snapshot adds its new file blobs + tree + commit
    store.append(Seq(("cpu", Map("h" -> "a"), 90000L, 3.0))
      .toDF("series", "tags", "time", "value"))
    val n2 = os.objectCount
    os.snapshot(store, "main")
    assert(os.objectCount > n2)
    // restore the latest snapshot into a fresh store → identical scan
    val restored = new graft.storage.SeriesStore(spark, tmp())
    os.restore("main", s"${restored.root}/segments")
    val a = store.scan().orderBy("time", "seq").collect().map(_.toSeq).toSeq
    val b = restored.scan().orderBy("time", "seq").collect().map(_.toSeq).toSeq
    assert(a === b)
    // GC: the one unreferenced object (the hello-world blob above) goes;
    // everything under the ref's commit-parent chain stays
    assert(os.gc() === 1)
    // time travel: the chain is newest-first and an OLD commit restores
    // the store as it was before the last append
    val chain = os.log("main")
    assert(chain.length === 3)
    assert(chain.head._1 !== chain.last._1)
    val old = new graft.storage.SeriesStore(spark, tmp())
    os.restoreCommit(chain(1)._1, s"${old.root}/segments")
    assert(old.scan().count() === 2, "pre-append snapshot has the original 2 rows")
    // drop the ref → all objects collectable
    os.deleteRef("main")
    assert(os.gc() > 0)
    assert(os.objectCount === 0, "nothing reachable after the ref is gone")
    assert(c1 !== c2, "commits differ (parent chain)")
  }

  test("small-file compaction packs an hour's files, preserves data exactly") {
    import spark.implicits._
    val store = new graft.storage.SeriesStore(spark, tmp())
    // 6 small appends into the SAME hour + one into another hour
    (0 until 6).foreach { i =>
      store.append(Seq(("cpu", Map("h" -> "a"), 1000L + i * 10, i.toDouble))
        .toDF("series", "tags", "time", "value"))
    }
    store.append(Seq(("cpu", Map("h" -> "a"), 7200L, 9.0))
      .toDF("series", "tags", "time", "value"))
    def filesIn(hour: Long) = Option(new java.io.File(
        s"${store.root}/segments/hour_bucket=$hour").listFiles())
      .getOrElse(Array.empty[java.io.File]).count(_.getName.endsWith(".parquet"))
    assert(filesIn(0L) >= 6, "each append should land its own files")
    val before = store.scan().orderBy("time", "seq")
      .select("series", "time", "value").collect().map(_.toSeq).toSeq
    val done = graft.storage.Maintenance.compactSmallFiles(store, 64L * 1024 * 1024)
    assert(done.map(_._1).contains(0L), "the busy hour must be compacted")
    assert(filesIn(0L) === 1, "one file after packing at a 64MB target")
    val after = store.scan().orderBy("time", "seq")
      .select("series", "time", "value").collect().map(_.toSeq).toSeq
    assert(after === before, "compaction is pure layout — data unchanged")
    // already-packed hours are untouched on a second run
    assert(graft.storage.Maintenance.compactSmallFiles(store, 64L * 1024 * 1024).isEmpty)
  }

  test("crashed partition swap is repaired by recoverSwaps, scratch dirs invisible to scans") {
    import spark.implicits._
    val store = new graft.storage.SeriesStore(spark, tmp())
    store.append(Seq(("cpu", Map.empty[String, String], 1000L, 1.0),
      ("cpu", Map.empty[String, String], 4000L, 2.0))
      .toDF("series", "tags", "time", "value"))
    val before = store.scan().orderBy("time")
      .select("time", "value").collect().map(_.toSeq).toSeq
    val seg = new java.io.File(s"${store.root}/segments")
    // simulate a swap that died between "live renamed aside" and "tmp
    // renamed in": hour 0 parked under _repack_old, half-written junk in
    // _repack_tmp
    val oldDir = new java.io.File(seg, "_repack_old")
    oldDir.mkdirs()
    assert(new java.io.File(seg, "hour_bucket=0")
      .renameTo(new java.io.File(oldDir, "hour_bucket=0")))
    val tmpJunk = new java.io.File(seg, "_repack_tmp/hour_bucket=0")
    tmpJunk.mkdirs()
    java.nio.file.Files.write(tmpJunk.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    // mid-crash state: scan still works (underscore dirs are invisible to
    // partition discovery), just missing the parked hour
    spark.catalog.clearCache()
    assert(store.scan().count() === 1)
    // any maintenance entry repairs it (compactSmallFiles calls
    // recoverSwaps first); data is byte-identical to pre-crash
    graft.storage.Maintenance.recoverSwaps(spark, s"${store.root}/segments")
    spark.catalog.clearCache()
    val after = store.scan().orderBy("time")
      .select("time", "value").collect().map(_.toSeq).toSeq
    assert(after === before, "parked partition restored exactly")
    assert(!oldDir.exists() && !new java.io.File(seg, "_repack_tmp").exists(),
      "scratch dirs cleaned")
  }

  test("sydraQL INSERT and DELETE execute against the store") {
    val store = new SeriesStore(spark, tmp())
    val opts = CompileOptions(now = 5000L)
    Engine.executeOnStore(store, "insert into metrics values (1000, 42.0), (2000, 43.5)", opts)
    Engine.executeOnStore(store, "insert into metrics (time, value, host) values (3000, 44.0, 'web')", opts)
    val q = Engine.executeOnStore(store,
      "select time, value from metrics where time >= 0 order by time", opts)
    assert(q.df.collect().map(_.getLong(0)).toSeq === Seq(1000L, 2000L, 3000L))
    // tagged row findable
    assert(store.findSeries(Map("host" -> "web")).count() === 1)
    val del = Engine.executeOnStore(store, "delete from metrics where time < 1500", opts)
    assert(del.df.head().getLong(0) === 1L)
    val after = Engine.executeOnStore(store,
      "select time from metrics where time >= 0 order by time", opts)
    assert(after.df.collect().map(_.getLong(0)).toSeq === Seq(2000L, 3000L))
  }

  test("streaming ingest: NDJSON dir -> micro-batches -> store (AvailableNow)") {
    val store = new SeriesStore(spark, tmp())
    val dir = writeNdjson(Seq(
      """{"series":"s.a","ts":100,"value":1.0}""",
      """{"series":"s.a","ts":200,"value":2.0}"""))
    val ckpt = tmp() + "/ckpt"
    val q = Ingest.stream(store, dir, ckpt)
    q.awaitTermination(60000)
    assert(store.source().count() === 2)
    // WAL-replay analog (engine.zig:406-437): restart from the same
    // checkpoint processes nothing new — no duplicate points
    val q2 = Ingest.stream(store, dir, ckpt)
    q2.awaitTermination(60000)
    assert(store.source().count() === 2)
  }

  test("CSV ingest (series,ts,value)") {
    val store = new SeriesStore(spark, tmp())
    val d = Files.createTempDirectory("graft-csv")
    Files.write(d.resolve("in.csv"), "series,ts,value\nm,100,1.5\nm,200,\n".getBytes)
    val n = Ingest.csv(store, d.toString)
    assert(n === 2)
    val got = store.source().orderBy("time").select("value").collect().map(_.getDouble(0))
    assert(got.toSeq === Seq(1.5, 0.0)) // missing value -> 0 like NDJSON
  }

  test("CLI stdin ingest (server.zig:82-115)") {
    val store = new SeriesStore(spark, tmp())
    val in = new java.io.ByteArrayInputStream(
      """{"series":"cli.m","ts":50,"value":7.0}""".getBytes)
    assert(Ingest.stdin(store, in) === 1)
    assert(store.source().head().getAs[Double]("value") === 7.0)
  }

  test("bucketed store equals the flat layout across random multi-batch appends") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(1213)
    val bucketed = new SeriesStore(spark, tmp(), seriesBuckets = 4)
    val flat = new SeriesStore(spark, tmp())
    // three append batches of random points over random series/hours —
    // the real ingestion shape (repeated insertInto on the bucketed table)
    for (_ <- 1 to 3) {
      val pts = (0 until 50 + rnd.nextInt(100)).map { _ =>
        (s"m.s${rnd.nextInt(9)}", Map("h" -> s"${rnd.nextInt(3)}"),
          1700000000L + rnd.nextInt(100000).toLong,
          if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(1000) / 10.0))
      }.toDF("series", "tags", "time", "value")
      bucketed.append(pts)
      flat.append(pts)
    }
    def rowsOf(s: SeriesStore) = s.scan()
      .select("series", "series_id", "time", "value", "hour_bucket")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rowsOf(bucketed) === rowsOf(flat))
    // range scan prunes identically
    def range(s: SeriesStore) = s.scanRange(1700020000L, 1700060000L)
      .select("series_id", "time", "value").collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(range(bucketed) === range(flat))
    // catalog (series dimension) matches
    def cat(s: SeriesStore) = s.catalog().select("series", "series_id")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(cat(bucketed) === cat(flat))
  }

  test("append rejects a wrong column type before writing; the store still scans") {
    val store = new SeriesStore(spark, tmp())
    Ingest.batch(store, writeNdjson(Seq(
      """{"series":"cpu","ts":1000,"value":1.5,"tags":{"host":"a"}}""")))
    val hours0 = store.partitions()
    val doubleTime = spark.range(3).select(lit("cpu").as("series"),
      map(lit("host"), lit("a")).as("tags"), (col("id") / 2 + 2000).as("time"),
      col("id").cast("double").as("value"))
    val e = intercept[IllegalArgumentException](store.append(doubleTime))
    assert(e.getMessage.contains("'time'") && e.getMessage.contains("double") &&
      e.getMessage.contains("bigint"), e.getMessage)
    val noTags = spark.range(1).select(lit("cpu").as("series"), col("id").as("time"),
      col("id").cast("double").as("value"))
    assert(intercept[IllegalArgumentException](store.append(noTags)).getMessage.contains("'tags'"))
    assert(store.partitions() === hours0)
    assert(store.scan().select("time", "value").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq === Seq((1000L, 1.5)))
  }

  test("reopening a store with a mismatched layout fails with an actionable message") {
    import spark.implicits._
    val pts = Seq(("m.a", Map("h" -> "1"), 1700000000L, Some(1.0)))
      .toDF("series", "tags", "time", "value")

    // bucketed root reopened with a different bucket count: catalog spec wins
    val root1 = tmp()
    new SeriesStore(spark, root1, seriesBuckets = 4).append(pts)
    val e1 = intercept[IllegalStateException] {
      new SeriesStore(spark, root1, seriesBuckets = 8).append(pts)
    }
    assert(e1.getMessage.contains("4 buckets") && e1.getMessage.contains("seriesBuckets=8"))

    // unbucketed root reopened bucketed (no catalog entry exists — only the
    // file-name fingerprint to go on): fails at open, not at scan time
    val root2 = tmp()
    new SeriesStore(spark, root2).append(pts)
    val e2 = intercept[IllegalStateException] {
      new SeriesStore(spark, root2, seriesBuckets = 4).append(pts)
    }
    assert(e2.getMessage.contains("unbucketed layout"))

    // bucketed root reopened unbucketed: the append guard refuses to mix files
    val e3 = intercept[IllegalStateException] {
      new SeriesStore(spark, root1).append(pts)
    }
    assert(e3.getMessage.contains("bucket-id suffix"))
  }

  test("IVFPQ index compaction: micro-batch appends -> fewer files, serving bit-identical") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = Files.createTempDirectory("graft-ivfpq-compact").toString + "/index"
    // initial build from the first slice; codebooks/centroids fit on the
    // full corpus (the serving contract: one codebook family per index)
    val (cs, books) = graft.pipeline.IvfIndex.buildPq(
      emb.filter(col("vec_id") < 200), idx, nCells = 4, iters = 2, m = 4, ksub = 16, pqIters = 1)
    // three micro-batch appends through the same encode path foreachBatch uses
    for (lo <- Seq(200L, 300L, 400L)) {
      graft.pipeline.IvfIndex.encodeForIndex(
          emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 100), cs, books)
        .write.mode("append").partitionBy("bucket").parquet(idx)
    }
    def dataFiles(): Int =
      new java.io.File(idx).listFiles().filter(_.getName.startsWith("bucket="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    def serve() = graft.pipeline.IvfIndex.topKPq(spark, idx,
        emb.filter(col("vec_id") < 10), 5, nprobe = 2,
        centroids = Some(cs), books = Some(books))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val before = serve()
    val filesBefore = dataFiles()
    assert(filesBefore > 4, s"appends should leave multi-file cells, got $filesBefore")
    val rewritten = graft.pipeline.IvfIndex.compact(spark, idx)
    assert(rewritten > 0)
    val filesAfter = dataFiles()
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    assert(filesAfter === new java.io.File(idx).listFiles()
      .count(_.getName.startsWith("bucket=")), "one file per cell after compaction")
    assert(serve() === before, "serving must be bit-identical after compaction")
    // the salted-build knob: filesPerCell = 1 writes the minimal layout
    // up front (one salted shuffle instead of a later compaction)
    val idx2 = Files.createTempDirectory("graft-ivfpq-salt").toString + "/index"
    graft.pipeline.IvfIndex.buildPq(emb, idx2, nCells = 4, iters = 2,
      m = 4, ksub = 16, pqIters = 1, centroids = Some(cs), books = Some(books),
      filesPerCell = 1)
    val perCell = new java.io.File(idx2).listFiles().filter(_.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perCell.nonEmpty && perCell.forall(_ === 1), perCell.toSeq.toString)
  }

  test("IVFPQ compaction runs through the Hadoop FileSystem API (file: URI scheme) and repairs a died-mid-swap index") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val local = Files.createTempDirectory("graft-ivfpq-hfs").toString + "/index"
    val idx = "file:" + local // non-bare scheme: resolved via Hadoop FS, not java.io.File
    val (cs, books) = graft.pipeline.IvfIndex.buildPq(
      emb.filter(col("vec_id") < 200), idx, nCells = 4, iters = 2, m = 4, ksub = 16, pqIters = 1)
    for (lo <- Seq(200L, 300L, 400L)) {
      graft.pipeline.IvfIndex.encodeForIndex(
          emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 100), cs, books)
        .write.mode("append").partitionBy("bucket").parquet(idx)
    }
    def serve() = graft.pipeline.IvfIndex.topKPq(spark, idx,
        emb.filter(col("vec_id") < 10), 5, nprobe = 2,
        centroids = Some(cs), books = Some(books))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val before = serve()
    assert(graft.pipeline.IvfIndex.compact(spark, idx) > 0)
    assert(serve() === before, "serving must be bit-identical through the file: URI route")
    // simulate a compact() that died between "live renamed aside" and
    // "tmp renamed in": park one live cell dir in _repack_old, leave a
    // stale partial write in _repack_tmp — the next compact() must
    // restore the cell and clear the scratch dirs before proceeding
    val cells = new java.io.File(local).listFiles().filter(_.getName.startsWith("bucket="))
    assert(cells.nonEmpty)
    val victim = cells.minBy(_.getName)
    val oldRoot = new java.io.File(local, "_repack_old")
    val tmpRoot = new java.io.File(local, "_repack_tmp")
    assert(oldRoot.mkdirs() && tmpRoot.mkdirs())
    assert(victim.renameTo(new java.io.File(oldRoot, victim.getName)))
    Files.write(java.nio.file.Paths.get(tmpRoot.toString, "partial"), Array[Byte](1, 2, 3))
    graft.pipeline.IvfIndex.compact(spark, idx) // recovery pass runs first
    assert(new java.io.File(local, victim.getName).exists(), "parked cell restored")
    assert(!oldRoot.exists() && !tmpRoot.exists(), "scratch dirs cleared")
    assert(serve() === before, "serving must be bit-identical after recovery")
  }

  test("IVFPQ rebalance after a skewed append: serving equals a fresh build, balance and recall recover") {
    import graft.pipeline.IvfIndex
    val spark2 = spark
    import spark2.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val idx = Files.createTempDirectory("graft-ivfpq-rebal").toString + "/index"
    // residual index built on the original corpus: residual codes are
    // where centroid drift actually hurts (codes quantize v − centroid,
    // so a stale far-away centroid inflates the quantization error)
    val (cs0, books) = IvfIndex.buildPq(emb, idx, nCells = 8, iters = 2,
      m = 4, ksub = 16, pqIters = 1, residual = true)
    // skewed append: a dense off-distribution cluster (every component
    // shifted +2) — under the stale quantizer it crowds into few cells
    val shifted = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(2.0))
        .cast("array<float>").as("embedding"),
      col("label"))
    IvfIndex.encodeForIndex(shifted, cs0, books, residual = true)
      .write.mode("append").partitionBy("bucket").parquet(idx)
    val full = emb.unionByName(shifted)
    // queries from the shifted region — the regime the stale index hurts
    val queries = shifted.filter(col("vec_id") < 100010L)
    val exact = graft.pipeline.Similarity.bruteForceTopK(full, queries, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
    def recall(served: Seq[org.apache.spark.sql.Row]): Double = {
      val byQ = served.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      val rs = exact.map { case (q, ex) =>
        val got = byQ.getOrElse(q, Seq.empty).map(_._2).toSet
        ex.map(_._2).count(got.contains).toDouble / ex.length
      }
      rs.sum / rs.size
    }
    def cellSizes(path: String): Seq[Long] =
      spark.read.parquet(path).groupBy("bucket").count()
        .collect().map(_.getLong(1)).toSeq
    def serve(path: String, cs: Array[Seq[Double]]) =
      IvfIndex.topKPqResidual(spark, path, queries, 5, nprobe = 2, cs, books)
        .select("q_id", "vec_id").collect().toSeq
    val skewBefore = cellSizes(idx).max.toDouble / cellSizes(idx).sum
    val recallBefore = recall(serve(idx, cs0))
    val cs1 = IvfIndex.rebalance(full, idx, nCells = 8, iters = 2, residual = true)
    // serving equivalence: the rebalanced index serves exactly what a
    // fresh build over the current corpus (same frozen books, same
    // refit centroids) serves
    val fresh = Files.createTempDirectory("graft-ivfpq-rebal-fresh").toString + "/index"
    IvfIndex.buildPq(full, fresh, centroids = Some(cs1), books = Some(books),
      residual = true)
    val served = IvfIndex.topKPqResidual(spark, idx, queries, 5, nprobe = 2, cs1, books)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    val freshServed = IvfIndex.topKPqResidual(spark, fresh, queries, 5, nprobe = 2, cs1, books)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    assert(served === freshServed, "rebalanced index must serve as a fresh build")
    // the refit splits the crowded region: hot-cell mass strictly drops
    val skewAfter = cellSizes(idx).max.toDouble / cellSizes(idx).sum
    assert(skewAfter < skewBefore, f"hot-cell mass $skewBefore%.2f -> $skewAfter%.2f")
    // and recall at the same nprobe does not degrade (recorded point:
    // see BASELINE.md round-8 rebalance row)
    val recallAfter = recall(serve(idx, cs1))
    assert(recallAfter >= recallBefore,
      f"recall $recallBefore%.2f -> $recallAfter%.2f must not degrade")
    info(f"recall@5 nprobe=2: before $recallBefore%.3f after $recallAfter%.3f; " +
      f"hot-cell mass before $skewBefore%.3f after $skewAfter%.3f")
  }

  test("IVFPQ rebalance recovers a died-mid-swap index") {
    import graft.pipeline.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = Files.createTempDirectory("graft-ivfpq-rebal-crash").toString
    val idx = base + "/index"
    val (cs0, books) = IvfIndex.buildPq(emb, idx, nCells = 4, iters = 2,
      m = 4, ksub = 16, pqIters = 1)
    def serve(cs: Array[Seq[Double]]) =
      IvfIndex.topKPq(spark, idx, emb.filter(col("vec_id") < 5), 5, nprobe = 2,
          centroids = Some(cs), books = Some(books))
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    val before = serve(cs0)
    // simulate a rebalance that died between "live parked aside" and
    // "tmp renamed in": the whole index sits in the parent's _repack_old
    assert(new java.io.File(base, "_repack_old").mkdirs())
    assert(new java.io.File(idx).renameTo(new java.io.File(base, "_repack_old/index")))
    val cs1 = IvfIndex.rebalance(emb, idx, nCells = 4, iters = 2)
    assert(serve(cs1).nonEmpty)
    assert(!new java.io.File(base, "_repack_old").exists(), "scratch cleared")
    assert(!new java.io.File(base, "_repack_tmp").exists(), "scratch cleared")
    // same corpus, same fit params -> same centroids; serving unchanged
    assert(cs1.toSeq === cs0.toSeq)
    assert(serve(cs1) === before)
  }

  test("snapshot copies a queryable store") {
    val store = new SeriesStore(spark, tmp())
    Ingest.batch(store, writeNdjson(Seq("""{"series":"m","ts":100,"value":1.0}""")))
    val dest = tmp() + "/snap"
    Maintenance.snapshot(store, dest)
    val restored = new SeriesStore(spark, dest)
    assert(restored.source().count() === 1)
  }

  test("continuous rollup: refreshes ONLY changed hours, tracks retention drops") {
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    val rollDir = tmp() + "/agg"
    def pts(rows: (String, Long, Double)*) =
      rows.toSeq.toDF("series", "time", "value")
        .withColumn("tags", typedlit(Map.empty[String, String]))
    store.append(pts(("m", 100L, 1.0), ("m", 200L, 3.0), ("m", 7300L, 5.0)))
    // first refresh: both hours (0 and 7200) computed
    assert(Maintenance.continuousRollup(store, rollDir) === Seq(0L, 7200L))
    // no change → nothing recomputed
    assert(Maintenance.continuousRollup(store, rollDir) === Seq.empty)
    // an append touching ONLY hour 7200 refreshes only it
    store.append(pts(("m", 7310L, 7.0)))
    assert(Maintenance.continuousRollup(store, rollDir) === Seq(7200L))
    val r = Maintenance.readRollup(spark, rollDir)
      .select("bucket", "sum_v", "n").as[(Long, Double, Long)].collect().toSet
    assert(r === Set((0L, 4.0, 2L), (7200L, 12.0, 2L)))
    // retention dropping hour 0 removes its rollup partition on refresh
    assert(Maintenance.applyRetention(store, 7200L) === Seq(0L))
    assert(Maintenance.continuousRollup(store, rollDir) === Seq.empty)
    val r2 = Maintenance.readRollup(spark, rollDir)
      .select("bucket").as[Long].collect().toSet
    assert(r2 === Set(7200L))
  }

  test("z-order layout: per-file min/max tight on BOTH dimensions (vs 1-D sort)") {
    import spark.implicits._
    // uniform grid over (u, t) — the adversarial case for 1-D layouts
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20000).map { _ =>
      (rnd.nextInt(1000).toLong, rnd.nextInt(1000000).toLong, rnd.nextDouble())
    }
    val df = rows.toDF("u", "t", "v").repartition(8)
    // per-file normalized span of a column under a given layout
    def spans(path: String, c: String, lo: Double, hi: Double): Seq[Double] = {
      spark.read.parquet(path)
        .groupBy(input_file_name()).agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
        .select((col("mx") - col("mn")) / (hi - lo)).as[Double].collect().toSeq
    }
    val zp = tmp() + "/z"
    graft.storage.ZOrder.write(df, zp, "u", "t", buckets = 16)
    val tp = tmp() + "/t"
    df.repartitionByRange(16, col("t")).sortWithinPartitions(col("t"))
      .write.parquet(tp)
    // layout is a pure reorder — no rows gained or lost
    assert(spark.read.parquet(zp).count() === 20000)
    // 16 z-buckets over a uniform square ≈ 4×4 grid: BOTH dimensions'
    // per-file spans collapse; under the t-sort, u stays full-range
    val zu = spans(zp, "u", 0, 999); val zt = spans(zp, "t", 0, 999999)
    val tu = spans(tp, "u", 0, 999)
    assert(zu.sum / zu.size < 0.5, s"z-order u span ${zu.sum / zu.size}")
    assert(zt.sum / zt.size < 0.5, s"z-order t span ${zt.sum / zt.size}")
    assert(tu.sum / tu.size > 0.9, s"t-sorted layout should NOT bound u: ${tu.sum / tu.size}")
  }

  test("text index append: changed-bucket rewrite equals full rebuild, probes bit-equal") {
    import graft.pipeline.TextIndex
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val incr = tmp() + "/ti-incr"
    val full = tmp() + "/ti-full"
    TextIndex.build(corpus, incr)
    val touched = TextIndex.append(spark, batch, incr)
    TextIndex.build(docs, full)
    assert(touched.nonEmpty && touched == touched.sorted)
    // the swap must rewrite ONLY touched buckets: untouched bucket dirs
    // still carry their pre-append file layout is implied by bit-equal
    // meta + probe below; check meta first (n_docs, exact-sum avgdl)
    def meta(p: String) = spark.read.parquet(s"$p/meta")
      .select("n_docs", "sum_dl", "avgdl", "n_buckets")
      .collect().map(_.toSeq).toSeq
    assert(meta(incr) === meta(full), "appended meta must equal full-rebuild meta")
    // full postings equivalence (order-free): every (term, doc, tf, df, dl)
    def rows(p: String) = spark.read.parquet(s"$p/postings")
      .select("term", "doc_id", "tf", "df", "dl", "bucket")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(incr) === rows(full), "appended postings must equal full rebuild")
    // and the serving surface: probes bit-equal across several queries
    for (q <- Seq(Seq("spark", "hash", "merge"), Seq("data"), Seq("the", "a"))) {
      val a = TextIndex.topK(spark, incr, q, 20).collect().map(_.toSeq).toSeq
      val b = TextIndex.topK(spark, full, q, 20).collect().map(_.toSeq).toSeq
      assert(a === b, s"probe for $q diverged after append")
    }
  }

  test("text index append recovers a died-mid-swap bucket") {
    import graft.pipeline.TextIndex
    import org.apache.hadoop.fs.{Path => HPath}
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") < 400)
    val idx = tmp() + "/ti-crash"
    TextIndex.build(corpus, idx)
    // simulate a swap that died between the two renames: live bucket dir
    // parked under _repack_old, live path missing
    val fs = new HPath(idx).getFileSystem(spark.sessionState.newHadoopConf())
    val victim = fs.listStatus(new HPath(s"$idx/postings"))
      .map(_.getPath.getName).filter(_.startsWith("bucket=")).sorted.head
    fs.mkdirs(new HPath(s"$idx/postings/_repack_old"))
    assert(fs.rename(new HPath(s"$idx/postings/$victim"),
      new HPath(s"$idx/postings/_repack_old/$victim")))
    // append's recoverSwaps must restore the parked bucket before indexing
    TextIndex.append(spark, docs.filter(col("doc_id") >= 400), idx)
    val full = tmp() + "/ti-crash-full"
    TextIndex.build(docs, full)
    val q = Seq("spark", "hash", "merge")
    assert(TextIndex.topK(spark, idx, q, 20).collect().map(_.toSeq).toSeq ===
      TextIndex.topK(spark, full, q, 20).collect().map(_.toSeq).toSeq)
  }

  test("skip index: probe reads strictly fewer files (time + bloom pruning), rows equal full scan") {
    import graft.storage.SkipIndex
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    // 4 hours x 2 separate appends (-> 2 files per hour dir, each holding
    // ONE series): time pruning cuts hours, bloom pruning cuts the
    // other-series file INSIDE surviving hours
    def pts(series: String, off: Long) =
      (0 until 4).map(h => (series, h * 3600L + off, h.toDouble)).toDF("series", "time", "value")
        .withColumn("tags", map(lit("host"), lit(series)))
        .select("series", "tags", "time", "value")
    store.append(pts("cpu", 10))
    store.append(pts("mem", 20))
    val mdir = tmp() + "/manifest"
    SkipIndex.build(store, mdir)
    val man = SkipIndex.read(spark, mdir)
    assert(man.count() === 8, "one manifest row per data file")
    assert(man.select("n_rows").as[Long].collect().forall(_ === 1L))
    val sid = spark.range(1).select(graft.core.Functions.seriesId(
      lit("cpu"), map(lit("host"), lit("cpu"))).as("s")).head().getLong(0)
    // window covers hours 1-2 only -> 4 files by time, 2 of them bloom-pruned
    val probe = SkipIndex.scan(store, mdir,
      ScanProbe(lo = Some(3600L), hi = Some(2 * 3600L + 10), seriesId = Some(sid)))
    assert(probe.filesTotal === 8)
    assert(probe.filesRead === 2,
      s"expected time pruning to 4 files then bloom pruning to 2, got ${probe.filesRead}")
    val got = probe.df.select("time", "value").orderBy("time")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === Seq((3610L, 1.0), (7210L, 2.0)))
    // the full-scan filter returns identical rows — pruning is I/O-only
    val full = store.scanRange(3600L, 2 * 3600L + 10)
      .filter(col("series_id") === sid).select("time", "value").orderBy("time")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === full.toSeq)
    // a series the store never saw: bloom prunes every file, empty frame
    val ghost = SkipIndex.scan(store, mdir,
      ScanProbe(lo = Some(0L), hi = Some(100 * 3600L), seriesId = Some(sid + 12345L)))
    assert(ghost.filesRead === 0 && ghost.df.isEmpty)
    // value-threshold sweep: only files whose max_value clears the bar
    // (values are the hour index 0..3 -> threshold 2.5 keeps hour 3's
    // two files)
    val sweep = SkipIndex.scan(store, mdir,
      ScanProbe(lo = Some(0L), hi = Some(100 * 3600L), vlo = Some(2.5)))
    assert(sweep.filesRead === 2 && sweep.filesTotal === 8)
    assert(sweep.df.select("value").as[Double].collect().toSeq === Seq(3.0, 3.0))
  }

  test("by_id probe composes value bounds: time + bloom + value-stat pruning, rows equal full scan") {
    import graft.storage.SkipIndex
    import graft.sydraql.{Engine, CompileOptions}
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    def sidOf(name: String) = spark.range(1).select(graft.core.Functions.seriesId(
      lit(name), map(lit("host"), lit(name))).as("s")).head().getLong(0)
    val probeName = Seq("cpu", "mem", "disk", "net", "io0", "gpu")
      .find(sidOf(_) >= 0).get
    // values = hour index, so per-file max_value DISCRIMINATES by hour:
    // a threshold of 2.5 can only match hour 3's file of the probe series
    def pts(series: String, off: Long) =
      (0 until 4).map(h => (series, h * 3600L + off, h.toDouble)).toDF("series", "time", "value")
        .withColumn("tags", map(lit("host"), lit(series)))
        .select("series", "tags", "time", "value")
    store.append(pts(probeName, 10))
    store.append(pts("other", 20))
    val sid = sidOf(probeName)
    SkipIndex.build(store, SkipIndex.dirFor(store))
    // time+bloom-only probe over the full span: the probe series' 4 files
    val plain = SkipIndex.scan(store, SkipIndex.dirFor(store),
      ScanProbe(lo = Some(0L), hi = Some(100 * 3600L), seriesId = Some(sid)))
    assert(plain.filesRead === 4 && plain.filesTotal === 8)
    // value bounds compose: STRICTLY fewer files than time+bloom alone
    val bounded = SkipIndex.scan(store, SkipIndex.dirFor(store),
      ScanProbe(lo = Some(0L), hi = Some(100 * 3600L), seriesId = Some(sid), vlo = Some(2.5)))
    assert(bounded.filesRead === 1,
      s"value stats must prune below the ${plain.filesRead}-file time+bloom probe, " +
        s"got ${bounded.filesRead}")
    val got = bounded.df.select("time", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((3 * 3600L + 10, 3.0)))
    // identical rows to the unpruned filter — pruning is I/O-only
    val full = store.scan().filter(col("series_id") === sid && col("value") >= 2.5)
      .select("time", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === full)
    // end-to-end: the engine's `by_id(N) … and value >= X` route reads
    // exactly the composed survivor set (was: time + bloom only)
    val routed = Engine.executeOnStore(store,
      s"select time, value from by_id($sid) where time >= 0 and value >= 2.5",
      CompileOptions(now = 0L)).df
    assert(routed.inputFiles.length === 1,
      s"engine by_id route must compose value pruning, read ${routed.inputFiles.length} files")
    assert(routed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === got)
  }

  test("skip index engine routing: by_id query reads pruned files, results unchanged, append refreshes") {
    import graft.storage.SkipIndex
    import graft.sydraql.{Engine, CompileOptions}
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    def sidOf(name: String) = spark.range(1).select(graft.core.Functions.seriesId(
      lit(name), map(lit("host"), lit(name))).as("s")).head().getLong(0)
    // the parser takes by_id(<unsigned int>) — pick a probe series whose
    // 64-bit id happens non-negative (the id VALUE is irrelevant here)
    val probeName = Seq("cpu", "mem", "disk", "net", "io0", "gpu")
      .find(sidOf(_) >= 0).get
    def pts(series: String, off: Long) =
      (0 until 4).map(h => (series, h * 3600L + off, h.toDouble)).toDF("series", "time", "value")
        .withColumn("tags", map(lit("host"), lit(series)))
        .select("series", "tags", "time", "value")
    store.append(pts(probeName, 10))
    store.append(pts("other", 20))
    val sid = sidOf(probeName)
    val ql = s"select time, value from by_id($sid) where time >= 3600 and time <= ${2 * 3600 + 10}"
    def run() = Engine.executeOnStore(store, ql, CompileOptions(now = 0L)).df
    // pre-manifest: the engine reads the window's hour directories —
    // hours 1 and 2, both series' files (4 of 8), unpruned by series
    val before = run()
    assert(before.inputFiles.length === 4, "no manifest -> hour-pruned source, every series")
    val rows = before.orderBy("time").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows === Seq((3610L, 1.0), (7210L, 2.0)))
    // with the store-convention manifest: 8 -> 2 files (time + bloom),
    // identical rows — the engine's scan now consults its skipping tier
    SkipIndex.build(store, SkipIndex.dirFor(store))
    val routed = run()
    assert(routed.inputFiles.length === 2,
      s"routed by_id scan must read the 2 surviving files, got ${routed.inputFiles.length}")
    assert(routed.orderBy("time").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === rows)
    // time-bounded name scan (no by_id): since r15 the NAME BLOOM prunes
    // the other-series files inside surviving hours too, so the name
    // route reads exactly the by_id probe's 2 files (pre-r15 this was
    // time-overlap-only: 3 files)
    val named = Engine.executeOnStore(store,
      s"select time, value from $probeName where time >= 3600 and time <= ${2 * 3600 + 10}",
      CompileOptions(now = 0L)).df
    assert(named.inputFiles.length === 2,
      s"name-bloom-routed scan must read the 2 surviving files, got ${named.inputFiles.length}")
    assert(named.orderBy("time").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === rows)
    // append into the probe window AFTER the build: the manifest must
    // refresh (a stale one would silently drop the new row)
    store.append(Seq((probeName, 3700L, 9.5)).toDF("series", "time", "value")
      .withColumn("tags", map(lit("host"), lit(probeName)))
      .select("series", "tags", "time", "value"))
    val after = run().orderBy("time").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after === Seq((3610L, 1.0), (3700L, 9.5), (7210L, 2.0)),
      "post-append routed scan must see the new row (manifest auto-refresh)")
    // OR-nested time comparisons must NOT tighten the pruning bounds
    // (superset contract): only the top-level `time >= 10` conjunct
    // routes; the disjunction is evaluated exactly on what is read, and
    // every matching row — including ones a naive extraction of the
    // OR's `time <= 10` would have pruned — comes back
    val orq = Engine.executeOnStore(store,
      s"select time, value from by_id($sid) where time >= 10 and (time <= 10 or value >= 2.5)",
      CompileOptions(now = 0L)).df
    assert(orq.orderBy("time").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((10L, 0.0), (3700L, 9.5), (10810L, 3.0)))
  }

  test("skip index incremental refresh: touched-hour rewrite equals full rebuild, dropped hour evicted") {
    import graft.storage.SkipIndex
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    def pts(series: String, hours: Seq[Long], off: Long) =
      hours.map(h => (series, h * 3600L + off, h.toDouble)).toDF("series", "time", "value")
        .withColumn("tags", map(lit("host"), lit(series)))
        .select("series", "tags", "time", "value")
    store.append(pts("cpu", 0L to 3L, 10))
    val mdir = tmp() + "/manifest"
    SkipIndex.build(store, mdir)
    // append into an existing hour (3) and a brand-new hour (4), then
    // refresh ONLY those hours
    store.append(pts("mem", Seq(3L, 4L), 20))
    SkipIndex.refresh(store, mdir, Seq(3L * 3600, 4L * 3600))
    def rows(dir: String) = SkipIndex.read(spark, dir)
      .select("file", "hour_bucket", "min_time", "max_time", "n_rows", "bloom")
      .collect().map(_.toSeq).toSet
    val full = tmp() + "/manifest-full"
    SkipIndex.build(store, full)
    assert(rows(mdir) === rows(full), "refresh must equal a full rebuild")
    // retention drops hour 0; refreshing it must evict its manifest rows
    Maintenance.applyRetention(store, 3600L)
    SkipIndex.refresh(store, mdir, Seq(0L))
    val left = SkipIndex.read(spark, mdir).select("hour_bucket").distinct()
      .as[Long].collect().toSet
    assert(left === Set(3600L, 2 * 3600L, 3 * 3600L, 4 * 3600L))
    intercept[IllegalArgumentException](
      SkipIndex.build(new SeriesStore(spark, tmp()), tmp() + "/m2"))
  }

  test("engine value-threshold routing: value conjuncts prune on file min/max stats") {
    import graft.storage.SkipIndex
    import graft.sydraql.{Engine, CompileOptions}
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    def pts(series: String, off: Long) =
      (0 until 4).map(h => (series, h * 3600L + off, h.toDouble)).toDF("series", "time", "value")
        .withColumn("tags", map(lit("host"), lit(series)))
        .select("series", "tags", "time", "value")
    store.append(pts("cpu", 10))
    store.append(pts("mem", 20))
    SkipIndex.build(store, SkipIndex.dirFor(store))
    def run(ql: String) = Engine.executeOnStore(store, ql, CompileOptions(now = 0L)).df
    // value >= 2.5 with a NAME selector: since r15 the name bloom
    // composes with the value stats — only cpu's hour-3 file survives
    // (pre-r15 this pruned on value stats alone and read mem's too)
    val top = run("select time, value from cpu where time >= 0 and value >= 2.5 order by time")
    assert(top.inputFiles.length === 1,
      s"name+value route must read 1 of 8 files, got ${top.inputFiles.length}")
    assert(top.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((3 * 3600L + 10, 3.0)))
    // both bounds + time: 0.5 <= value <= 1.5 in hours 0-1 → mem's
    // hour-1 file alone (name bloom ∧ time ∧ value stats)
    val band = run("select time, value from mem where time >= 0 and " +
      s"time < ${2 * 3600} and value >= 0.5 and value <= 1.5 order by time")
    assert(band.inputFiles.length === 1,
      s"banded name+value route must read 1 file, got ${band.inputFiles.length}")
    assert(band.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((3600L + 20, 1.0)))
    // `value > 2.5` under OR must NOT tighten pruning (superset contract)
    val orq = run("select time, value from cpu where time >= 0 and " +
      "(value >= 2.5 or value <= 0.5) order by time")
    assert(orq.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((10L, 0.0), (3 * 3600L + 10, 3.0)))
    // selector-less value sweep (r15 made it reachable: a FROM-less
    // select referencing source columns compiles against the WHOLE
    // source, not OneRow): the engine route prunes on value stats — both
    // series' hour-3 files survive the value stats, 2 of 8 read
    val sweep = run("select time, value where time >= 0 and value >= 2.5 order by time")
    assert(sweep.inputFiles.length === 2,
      s"FROM-less value sweep must read 2 of 8 files, got ${sweep.inputFiles.length}")
    assert(sweep.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((3 * 3600L + 10, 3.0), (3 * 3600L + 20, 3.0)))
  }

  test("delete: manifest-pruned discovery, tier refresh (cells serve post-delete truth, emptied day dropped)") {
    import graft.storage.{SkipIndex, SketchCells}
    import graft.sydraql.{Engine, CompileOptions}
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    val d1 = 86400L
    def pt(t: Long, v: Double, host: String) = (("m", t, v, host))
    // day 0: hosts a,b over hours 0,1; day 1: hosts a,b,c over hours 0,1,2
    val rows = Seq(
      pt(100L, 1.0, "a"), pt(3700L, 2.0, "b"),
      pt(d1 + 100L, 3.0, "a"), pt(d1 + 3700L, 4.0, "b"), pt(d1 + 7300L, 9.0, "c"))
    store.append(rows.toDF("series", "time", "value", "host")
      .withColumn("tags", map(lit("host"), col("host")))
      .select("series", "tags", "time", "value"))
    SkipIndex.build(store, SkipIndex.dirFor(store))
    SketchCells.build(store, SketchCells.dirFor(store), ndvTags = Seq("host"))
    val opts = CompileOptions(now = 0L)
    def ndvOver(lo: Long, hi: Long): Double = Engine.executeOnStore(store,
      s"select ndv(tag.host) as ndva from m where time >= $lo and time < $hi",
      opts).df.head().getDouble(0)
    assert(ndvOver(d1, 2 * d1) === 3.0, "pre-delete day-1 NDV from theta cells")
    // delete host c from day 1: the report pins that DISCOVERY read only
    // the 3 files overlapping the bound (of 5 total) — manifest-pruned
    // I/O, not a full-store scan
    val rep = Maintenance.deleteRows(store,
      col("series") === "m" &&
        try_element_at(col("tags"), lit("host")) === "c" &&
        col("time") >= d1 && col("time") < 2 * d1,
      ScanProbe(lo = Some(d1), hi = Some(2 * d1)))
    assert(rep.scannedFiles === 3 && rep.totalFiles === 5,
      s"bounded delete discovery must prune through the manifest, got $rep")
    assert(rep.rewrittenHours === Seq(d1 + 7200L) && rep.deletedRows === 1L)
    // derived tiers must reflect the delete with no manual rebuild:
    // the theta cells no longer count host c …
    assert(ndvOver(d1, 2 * d1) === 2.0, "post-delete NDV must drop host c")
    // … and the skip manifest points at the REWRITTEN file (a stale one
    // would fail loudly on the renamed path or miss rows)
    val sel = Engine.executeOnStore(store,
      s"select time, value from m where time >= $d1 and time <= ${2 * d1}", opts).df
    assert(sel.orderBy("time").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((d1 + 100L, 3.0), (d1 + 3700L, 4.0)))
    // engine DELETE of ALL of day 0 (time-bounded WHERE → routed
    // discovery): the emptied day's cell partition must be dropped, not
    // left serving stale estimates under dynamic overwrite
    val del = Engine.executeOnStore(store, s"delete from m where time < $d1", opts)
    assert(del.df.head().getLong(0) === 2L)
    val cellDays = SketchCells.read(spark, SketchCells.dirFor(store))
      .select("day").distinct().as[Long].collect().toSet
    assert(cellDays === Set(d1), "emptied day-0 cell partition must be gone")
    assert(ndvOver(0L, 2 * d1) === 2.0, "whole-range NDV now sees only day 1")
    // manifest tracks the day-0 rewrite-to-empty too: routed scans read 0
    // day-0 files and return nothing
    val empty = Engine.executeOnStore(store,
      s"select time, value from m where time >= 0 and time < $d1", opts).df
    assert(empty.count() === 0)
    // a NAME-selector DELETE with value bounds: discovery prunes on the
    // same probe as the matching SELECT (name bloom ∧ time ∧ value
    // stats), not on time alone, and deletes exactly what a store
    // without tiers deletes. A second series adds a file to each of m's
    // two remaining hours (4 files).
    store.append(Seq(("n", d1 + 200L, 5.0, "a"), ("n", d1 + 3800L, 6.0, "b"))
      .toDF("series", "time", "value", "host")
      .withColumn("tags", map(lit("host"), col("host")))
      .select("series", "tags", "time", "value"))
    val plain = new SeriesStore(spark, tmp())
    plain.append(store.scan().select("series", "tags", "time", "value"))
    val ql = s"delete from m where time >= $d1 and value >= 3.5"
    val probe = graft.sydraql.Parser.parse(ql) match {
      case graft.sydraql.Ast.Delete(sel, where) => Engine.scanProbe(Some(sel), where)
      case other => fail(s"not a delete: $other")
    }
    assert(probe === ScanProbe(lo = Some(d1), vlo = Some(3.5), series = Some("m")))
    val timeOnly = SkipIndex.scan(store, SkipIndex.dirFor(store), ScanProbe(lo = Some(d1)))
    val byProbe = Maintenance.deleteRows(store,
      col("series") === "m" && col("time") >= d1 && col("value") >= 3.5, probe)
    assert(timeOnly.filesRead === 4 && byProbe.scannedFiles === 1,
      s"name ∧ value discovery must read m's one 4.0 file of the 4 time-pruned, got $byProbe")
    val unrouted = Engine.executeOnStore(plain, ql, opts).df.head().getLong(0)
    assert(byProbe.deletedRows === 1L && unrouted === 1L)
    def rowsOf(st: SeriesStore) = st.source().select("series", "time", "value")
      .orderBy("series", "time").collect().map(_.toSeq).toSeq
    assert(rowsOf(store) === rowsOf(plain))
  }

  test("scanRange from Long.MinValue keeps every hour partition") {
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    store.append(Seq(("m", -7200L, 1.0), ("m", 0L, 2.0), ("m", 5 * 3600L + 1, 3.0))
      .toDF("series", "time", "value")
      .withColumn("tags", map().cast("map<string,string>"))
      .select("series", "tags", "time", "value"))
    // the hour floor of a start within an hour of Long.MinValue is below
    // the Long range; unclamped, it wrapped to a huge positive bound
    assert(store.scanRange(Long.MinValue, Long.MaxValue).count() === 3)
    assert(store.scanRange(Long.MinValue + 1, 0L).count() === 2)
  }

  test("prune: driver-cached rows and the Spark-side filter keep the same files for every probe") {
    import graft.storage.{MetaCache, SkipIndex}
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    // 4 hours x 3 single-tagset appends (values = hour index) plus one
    // all-null-value file: 13 files that every dimension can tell apart
    def pts(series: String, host: String, off: Long) =
      (0 until 4).map(h => (series, h * 3600L + off, h.toDouble)).toDF("series", "time", "value")
        .withColumn("tags", map(lit("host"), lit(host)))
        .select("series", "tags", "time", "value")
    store.append(pts("cpu", "a", 10))
    store.append(pts("cpu", "b", 11))
    store.append(pts("mem", "a", 20))
    store.append(Seq(("nul", 30L)).toDF("series", "time")
      .select(col("series"), map(lit("host"), lit("a")).as("tags"), col("time"),
        lit(null).cast("double").as("value")))
    def sidOf(name: String, host: String) = spark.range(1).select(graft.core.Functions
      .seriesId(lit(name), map(lit("host"), lit(host))).as("s")).head().getLong(0)
    val withBlooms = tmp() + "/blooms"
    SkipIndex.build(store, withBlooms)
    // the same manifest before the r15/r16 blooms existed, and after one
    // hour's in-place upgrade (carried rows keep NULL blooms)
    def legacy(dir: String): String = {
      SkipIndex.build(store, dir)
      val m = SkipIndex.read(spark, dir).drop("bloom_name", "bloom_tags")
      val (rows, schema) = (m.collect(), m.schema)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir + "/m"))
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq), schema)
        .coalesce(1).write.parquet(dir + "/m")
      MetaCache.invalidate(dir)
      dir
    }
    val noBlooms = legacy(tmp() + "/legacy")
    val upgraded = legacy(tmp() + "/upgraded")
    SkipIndex.refresh(store, upgraded, Seq(3600L))
    val probes = Seq(
      ScanProbe(),
      ScanProbe(lo = Some(3600L), hi = Some(2 * 3600L + 10)),
      ScanProbe(hi = Some(0L)),
      ScanProbe(seriesId = Some(sidOf("cpu", "a"))),
      ScanProbe(seriesId = Some(sidOf("ghost", "a"))),
      ScanProbe(series = Some("cpu")),
      ScanProbe(series = Some("ghost")),
      ScanProbe(vlo = Some(2.5)),
      ScanProbe(vhi = Some(0.5)),
      ScanProbe(vlo = Some(0.5), vhi = Some(1.5)),
      ScanProbe(tags = Seq(Seq("host" -> "b"))),
      ScanProbe(tags = Seq(Seq("host" -> "a"), Seq("host" -> "b"))),
      ScanProbe(tags = Seq(Seq("host" -> "b", "host" -> "zz"))),
      ScanProbe(lo = Some(0L), hi = Some(2 * 3600L + 20), series = Some("cpu"),
        vlo = Some(0.5), tags = Seq(Seq("host" -> "a"))))
    for (dir <- Seq(withBlooms, noBlooms, upgraded); p <- probes) {
      val (cached, total) = SkipIndex.prune(store, dir, p)
      val (filtered, total2) = SkipIndex.prune(store, dir, p, maxCachedRows = -1)
      assert(cached.sorted.toSeq === filtered.sorted.toSeq, s"$dir $p")
      assert(total === 13 && total2 === 13)
    }
    // the matrix compares real pruning: blooms cut files where present
    def kept(dir: String, p: ScanProbe) = SkipIndex.prune(store, dir, p)._1.length
    assert(kept(withBlooms, ScanProbe(series = Some("cpu"))) === 8)
    assert(kept(noBlooms, ScanProbe(series = Some("cpu"))) === 13)
    assert(kept(withBlooms, ScanProbe(tags = Seq(Seq("host" -> "b")))) === 4)
    assert(kept(upgraded, ScanProbe(tags = Seq(Seq("host" -> "b")))) === 11)
    assert(kept(withBlooms, ScanProbe(vlo = Some(2.5))) === 3)
  }

  test("by_id delete discovery adds the series bloom to time pruning") {
    import graft.storage.SkipIndex
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    def pts(series: String, off: Long) =
      (0 until 4).map(h => (series, h * 3600L + off, h.toDouble)).toDF("series", "time", "value")
        .withColumn("tags", map(lit("host"), lit(series)))
        .select("series", "tags", "time", "value")
    store.append(pts("cpu", 10))
    store.append(pts("mem", 20))
    SkipIndex.build(store, SkipIndex.dirFor(store))
    val sid = spark.range(1).select(graft.core.Functions.seriesId(
      lit("cpu"), map(lit("host"), lit("cpu"))).as("s")).head().getLong(0)
    // time bound keeps hours 1-2 (4 files); the bloom halves it to cpu's 2
    val rep = Maintenance.deleteRows(store,
      col("series_id") === sid && col("time") >= 3600L && col("time") <= 2 * 3600L + 10,
      ScanProbe(lo = Some(3600L), hi = Some(2 * 3600L + 10), seriesId = Some(sid)))
    assert(rep.scannedFiles === 2 && rep.totalFiles === 8,
      s"bloom + time discovery must scan cpu's 2 overlapping files, got $rep")
    assert(rep.rewrittenHours === Seq(3600L, 7200L))
    assert(store.scan().filter(col("series") === "cpu").count() === 2)
    assert(store.scan().filter(col("series") === "mem").count() === 4)
  }

  test("batched delete: constant job count across many hours, emptied hour dropped, crash mid-swap heals") {
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    // 6 hours × 10 rows; the predicate EMPTIES hour 2 and clips two rows
    // from every other hour — a 6-partition delete
    val pts = for { h <- 0 until 6; i <- 0 until 10 }
      yield ("m", Map.empty[String, String], h * 3600L + i * 60L, (h * 10 + i).toDouble)
    store.append(pts.toDF("series", "tags", "time", "value"))
    val pred = (col("value") >= 20 && col("value") < 30) ||
      pmod(col("value").cast("long"), lit(10L)) >= 8
    // job-count pin: the r13 rewrite ran ~2 Spark jobs PER affected hour
    // (12+ here); the batched rewrite is one counts job + one survivors
    // write + discovery, independent of the hour count
    val (report, jobs) = TestSpark.jobsDuring(Maintenance.deleteRows(store, pred))
    assert(report.deletedRows === 20L, report)
    assert(report.rewrittenHours === (0 until 6).map(_ * 3600L))
    assert(jobs.size <= 8,
      s"batched delete must run O(1) jobs for 6 affected hours, ran ${jobs.size}")
    // emptied hour's partition dir is gone; survivors exact elsewhere
    assert(store.partitions() === Seq(0L, 3600L, 10800L, 14400L, 18000L))
    assert(store.scan().count() === 40L)
    assert(store.scanRange(3600L, 7199L).orderBy("time")
      .select("value").as[Double].collect().toSeq
      === (10 until 18).map(_.toDouble))
    // crash mid-swap: hour 3 parked aside, survivors still in the
    // scratch dir — recoverSwaps restores the parked partition and drops
    // the scratch (re-running the delete then converges)
    val seg = new java.io.File(s"${store.root}/segments")
    val oldDir = new java.io.File(seg, "_repack_old")
    oldDir.mkdirs()
    assert(new java.io.File(seg, "hour_bucket=10800")
      .renameTo(new java.io.File(oldDir, "hour_bucket=10800")))
    val tmpScratch = new java.io.File(seg, "_repack_tmp/hour_bucket=10800")
    tmpScratch.mkdirs()
    java.nio.file.Files.write(tmpScratch.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(store.scan().count() === 32L) // parked hour invisible mid-crash
    Maintenance.recoverSwaps(spark, s"${store.root}/segments")
    assert(store.scan().count() === 40L, "parked partition restored exactly")
    assert(!oldDir.exists() &&
      !new java.io.File(seg, "_repack_tmp").exists(), "scratch dirs cleaned")
  }

  test("SketchCells.refresh never leaks partitionOverwriteMode into the session conf") {
    import graft.storage.SketchCells
    import spark.implicits._
    val before = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    val store = new SeriesStore(spark, tmp())
    store.append(Seq(("m", 100L, 1.0), ("m", 86500L, 2.0))
      .toDF("series", "time", "value")
      .withColumn("tags", map().cast("map<string,string>"))
      .select("series", "tags", "time", "value"))
    SketchCells.build(store, SketchCells.dirFor(store))
    SketchCells.refresh(store, SketchCells.dirFor(store), Seq(0L))
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode") === before,
      "refresh must not mutate session-wide overwrite mode")
    // the continuous rollup's dynamic overwrite is a writer option too
    assert(Maintenance.continuousRollup(store, tmp() + "/agg") === Seq(0L, 86400L))
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode") === before,
      "continuousRollup must not mutate session-wide overwrite mode")
  }

  test("SketchCells.refresh fails loudly on a legacy-schema store instead of mixing per-partition schemas") {
    import graft.storage.SketchCells
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    import org.apache.spark.sql.types._
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    store.append(Seq(("m", 100L, 1.0), ("m", 86500L, 2.0))
      .toDF("series", "time", "value")
      .withColumn("tags", map(lit("host"), lit("a")))
      .select("series", "tags", "time", "value"))
    val dir = SketchCells.dirFor(store)
    SketchCells.build(store, dir, groupTags = Seq("host"))
    // simulate a pre-r14 store: strip the basic-partial columns from td
    val legacy = spark.read.parquet(s"$dir/td")
      .drop("sum_v", "min_v", "max_v", "n_vals").cache()
    legacy.count()
    legacy.write.mode("overwrite").partitionBy("day").parquet(s"$dir/td")
    legacy.unpersist()
    val e1 = intercept[IllegalStateException] {
      SketchCells.refresh(store, dir, Seq(0L))
    }
    assert(e1.getMessage.contains("rebuild"),
      s"missing basic columns must demand a rebuild: ${e1.getMessage}")
    // the streaming twin is refused by the SAME guard: one batch of
    // points against the legacy store fails with refresh's message as
    // the wrapped cause of the StreamingQueryException
    val streamIn = tmp()
    Seq(("m", 200L, 3.0)).toDF("series", "time", "value")
      .withColumn("tags", map(lit("host"), lit("a")))
      .withColumn("series_id", graft.core.Functions.seriesId(col("series"), col("tags")))
      .select("series", "series_id", "tags", "time", "value")
      .write.mode("append").json(streamIn)
    val streamSchema = StructType(Seq(StructField("series", StringType),
      StructField("series_id", LongType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("time", LongType), StructField("value", DoubleType)))
    def streamGuardMessage(): String = {
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        graft.streaming.StreamOps.tdigestCellMaintenance(
          spark.readStream.schema(streamSchema).json(streamIn), dir, tmp() + "/ck")
          .awaitTermination(120000)
        ()
      }
      Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .collectFirst { case e: IllegalStateException => e.getMessage }
        .getOrElse(fail(s"stream refusal must wrap the legacy guard's error: $ex"))
    }
    assert(streamGuardMessage() === e1.getMessage,
      "stream and refresh must share one legacy guard")
    // simulate an r12 store: an hll_* NDV column in the cell schema
    val hll = spark.read.parquet(s"$dir/td")
      .withColumn("hll_host", xxhash64(col("series_id")).cast("string").cast("binary")).cache()
    hll.count()
    hll.write.mode("overwrite").partitionBy("day").parquet(s"$dir/td")
    hll.unpersist()
    val e2 = intercept[IllegalStateException] {
      SketchCells.refresh(store, dir, Seq(0L))
    }
    assert(e2.getMessage.contains("hll"),
      s"hll_* cells must demand a rebuild: ${e2.getMessage}")
    assert(streamGuardMessage() === e2.getMessage,
      "stream and refresh must share one legacy guard")
    // a rebuild heals: refresh works again afterwards
    SketchCells.build(store, dir, groupTags = Seq("host"))
    SketchCells.refresh(store, dir, Seq(0L))
    assert(SketchCells.read(spark, dir).columns.contains("sum_v"))
  }

  test("serving metadata memoized per refresh generation: repeated served queries load nothing; writers invalidate") {
    import graft.storage.{MetaCache, SketchCells, SkipIndex}
    import graft.sydraql.{CompileOptions, Engine}
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    val pts = (0 until 16).map(i => ("cpu", i.toLong * 21600L, i.toDouble))
      .toDF("series", "time", "value")
      .withColumn("tags", map(lit("host"),
        when(col("value").cast("long") % 2 === 0, lit("a")).otherwise(lit("b"))))
      .select("series", "tags", "time", "value")
    store.append(pts)
    val dir = SketchCells.dirFor(store)
    def tagServed() = Engine.executeOnStore(store,
      s"select tag.host as h, percentile_approx(value, 0.5) as p " +
        s"from cpu where time >= 0 and time < ${2 * 86400} " +
        "group by tag.host order by h",
      CompileOptions(now = 0L))
    // built WITHOUT a tag tier: the tag grouping falls through to raw
    SketchCells.build(store, dir)
    assert(tagServed().df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      .contains("segments"))
    // REBUILD with the tag tier: the generation bump must make serving
    // see it immediately (a stale exists/groupTags memo would keep
    // falling through); the driver merge it takes names the tier it read
    SketchCells.build(store, dir, groupTags = Seq("host"))
    val rebuilt = tagServed().stats
    assert(rebuilt.route === "served:cells:tdtag" &&
      rebuilt.served.exists(_.table.endsWith("sketchcells/tdtag/host")),
      s"rebuild must invalidate the serving-metadata memo: $rebuilt")
    // skip-manifest half: a routed probe memoizes existence + filesTotal
    SkipIndex.build(store, SkipIndex.dirFor(store))
    def probe() = Engine.executeOnStore(store,
      "select time, value from cpu where time >= 0 and time <= 90000 and value >= 1",
      CompileOptions(now = 0L)).df.collect()
    // warm every memo this query touches, then pin: repeated queries —
    // served AND routed — cost ZERO further metadata loads
    tagServed().df.collect(); probe()
    val before = MetaCache.loads.get()
    tagServed().df.collect(); probe()
    tagServed().df.collect(); probe()
    assert(MetaCache.loads.get() === before,
      s"repeated queries must not reload serving metadata " +
        s"(loaded ${MetaCache.loads.get() - before} more)")
    // a refresh bumps the generation: the NEXT query reloads (staleness
    // contract), and only then
    SketchCells.refresh(store, dir, Seq(0L))
    SkipIndex.refresh(store, SkipIndex.dirFor(store), Seq(0L))
    tagServed().df.collect(); probe()
    assert(MetaCache.loads.get() > before,
      "a refresh must invalidate the memo so serving re-reads metadata")
  }

  test("retention refreshes derived tiers for the dropped hours") {
    import graft.storage.{SkipIndex, SketchCells}
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    val d1 = 86400L
    store.append(Seq(("m", 100L, 1.0), ("m", d1 + 100L, 2.0))
      .toDF("series", "time", "value")
      .withColumn("tags", map().cast("map<string,string>"))
      .select("series", "tags", "time", "value"))
    SkipIndex.build(store, SkipIndex.dirFor(store))
    SketchCells.build(store, SketchCells.dirFor(store))
    assert(Maintenance.applyRetention(store, cutoffTs = d1) === Seq(0L))
    val hours = SkipIndex.read(spark, SkipIndex.dirFor(store))
      .select("hour_bucket").distinct().as[Long].collect().toSet
    assert(hours === Set(d1), "dropped hour must leave the manifest")
    val days = SketchCells.read(spark, SketchCells.dirFor(store))
      .select("day").distinct().as[Long].collect().toSet
    assert(days === Set(d1), "dropped day must leave the cell store")
  }

  test("name selectors prune on the manifest name bloom exactly like by_id probes (r15)") {
    import graft.storage.SkipIndex
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    // the r13 probe fixture: 4 hours x 2 separate appends -> 8 files,
    // each holding ONE series, so bloom pruning is observable
    def pts(series: String, off: Long) =
      (0 until 4).map(h => (series, h * 3600L + off, h.toDouble)).toDF("series", "time", "value")
        .withColumn("tags", map(lit("host"), lit(series)))
        .select("series", "tags", "time", "value")
    store.append(pts("cpu", 10))
    store.append(pts("mem", 20))
    val mdir = tmp() + "/manifest"
    SkipIndex.build(store, mdir)
    assert(SkipIndex.read(spark, mdir).columns.contains("bloom_name"))
    val sid = spark.range(1).select(graft.core.Functions.seriesId(
      lit("cpu"), map(lit("host"), lit("cpu"))).as("s")).head().getLong(0)
    // THE pin: the name scan reads exactly the files the by_id probe
    // reads on this fixture (one tagset per name -> same file set)
    val probe = SkipIndex.scan(store, mdir,
      ScanProbe(lo = Some(3600L), hi = Some(2 * 3600L + 10), seriesId = Some(sid)))
    val byName = SkipIndex.scan(store, mdir,
      ScanProbe(lo = Some(3600L), hi = Some(2 * 3600L + 10), series = Some("cpu")))
    assert(byName.filesTotal === 8)
    assert(byName.filesRead === probe.filesRead,
      s"name scan must prune like the id probe: ${byName.filesRead} vs ${probe.filesRead}")
    assert(byName.filesRead === 2, "time pruning to 4 files, name bloom to 2")
    // identical rows to the full-scan filter — pruning is I/O-only
    val got = byName.df.select("time", "value").orderBy("time")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === Seq((3610L, 1.0), (7210L, 2.0)))
    // a name the store never saw: every file pruned
    val ghost = SkipIndex.scan(store, mdir,
      ScanProbe(lo = Some(0L), hi = Some(100 * 3600L), series = Some("ghost.series")))
    assert(ghost.filesRead === 0 && ghost.df.isEmpty)
    // value bounds compose like the by_id probe's (r14 shape)
    val bounded = SkipIndex.scan(store, mdir,
      ScanProbe(lo = Some(0L), hi = Some(100 * 3600L), series = Some("cpu"), vlo = Some(2.5)))
    assert(bounded.filesRead === 1, "value stats prune inside the name's files")
    assert(bounded.df.select("value").as[Double].collect().toSeq === Seq(3.0))
    // the ENGINE routes `from <name>` through the name bloom: same
    // rows, and the routed plan carries only the surviving files
    val res = Engine.executeOnStore(store,
      "select time, value from cpu where time >= 3600 and time <= 7210 order by time",
      CompileOptions(now = 0L)).df
    assert(res.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((3610L, 1.0), (7210L, 2.0)))
  }

  test("persisted MetaCache generation: an out-of-process marker bump invalidates (r15)") {
    import graft.storage.MetaCache
    val dir = tmp()
    val k = "spec-key"
    def value(): Long =
      MetaCache.cached(dir, k)(java.lang.Long.valueOf(System.nanoTime())).longValue()
    val v1 = value()
    assert(value() === v1, "second lookup must memo")
    // invalidate WRITES the marker (the cross-JVM contract's write half)
    MetaCache.invalidate(dir)
    val marker = new java.io.File(dir, "_meta_generation")
    assert(marker.exists(), "invalidate must persist a generation marker")
    val v2 = value()
    assert(v2 !== v1, "same-JVM invalidate must reload")
    assert(value() === v2)
    // simulate ANOTHER JVM's invalidate: rewrite the marker out-of-process
    // with fresh CONTENT — the generation key since r16 (r15 keyed on the
    // mtime:length stat, which two same-millisecond equal-length stamps
    // could alias). The reader's next lookup must reload — the in-process
    // counter alone could never notice this. The mtime is deliberately
    // NOT touched: content alone must carry the bump.
    java.nio.file.Files.write(marker.toPath, s"other-jvm:${System.nanoTime()}".getBytes)
    val v3 = value()
    assert(v3 !== v2, "a foreign JVM's marker bump must invalidate the memo")
    assert(value() === v3, "and the new generation memoizes again")
  }

  test("MetaCache query scope: one marker read per dir per scope (r16)") {
    import graft.storage.MetaCache
    val dir = tmp()
    MetaCache.invalidate(dir) // stamp a marker so reads have something real
    MetaCache.scoped {
      val r0 = MetaCache.markerReads.get()
      MetaCache.cached(dir, "sk1")(java.lang.Long.valueOf(1L))
      MetaCache.cached(dir, "sk2")(java.lang.Long.valueOf(2L))
      MetaCache.cached(dir, "sk3")(java.lang.Long.valueOf(3L))
      assert(MetaCache.markerReads.get() === r0 + 1,
        "further lookups on the dir inside the scope must reuse the snapshot")
      // a writer bump INSIDE the scope drops the snapshot — freshness
      // beats batching (the engine's insert/delete arms invalidate
      // mid-query)
      MetaCache.invalidate(dir)
      val v = MetaCache.cached(dir, "sk1")(java.lang.Long.valueOf(9L)).longValue()
      assert(v === 9L, "post-invalidate lookup must reload")
      assert(MetaCache.markerReads.get() === r0 + 2)
    }
    // outside a scope each lookup pays its own freshness read
    val r1 = MetaCache.markerReads.get()
    MetaCache.cached(dir, "sk1")(java.lang.Long.valueOf(1L))
    MetaCache.cached(dir, "sk2")(java.lang.Long.valueOf(2L))
    assert(MetaCache.markerReads.get() === r1 + 2)
  }

  test("MetaCache.invalidate never materializes an unbuilt tier dir (r16)") {
    import graft.storage.MetaCache
    val dir = tmp() + "/unbuilt-tier"
    def value(): Long =
      MetaCache.cached(dir, "k")(java.lang.Long.valueOf(System.nanoTime())).longValue()
    val v1 = value()
    // pre-r16, Hadoop fs.create(p, true) created parents — invalidating a
    // not-yet-built tier materialized its directory holding only the
    // marker, a trap for dir-existence checks
    MetaCache.invalidate(dir)
    assert(!new java.io.File(dir).exists(),
      "invalidate of an unbuilt tier must not create its directory")
    assert(value() !== v1, "the in-process bump still invalidates same-JVM readers")
  }

  test("MetaCache.invalidate: a marker-write failure is loud once and same-JVM correct (r16)") {
    import graft.storage.MetaCache
    // a FILE where the tier dir would be: fs.exists(dir) holds, but
    // creating dir/_meta_generation fails (parent is not a directory) —
    // the unexpected-failure path (permissions, remote errors) in shape
    val dir = tmp() + "/tier-as-file"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir), "x".getBytes)
    def value(): Long =
      MetaCache.cached(dir, "k")(java.lang.Long.valueOf(System.nanoTime())).longValue()
    val v1 = value()
    MetaCache.invalidate(dir) // must not throw
    assert(MetaCache.markerWriteFailures.contains(dir),
      "the failure must be recorded (and warned on stderr, once per dir)")
    assert(value() !== v1,
      "in-process readers stay correct via the counter even when the marker write fails")
  }

  test("tag-equality conjuncts prune on the manifest tag bloom (r16)") {
    import graft.storage.SkipIndex
    import graft.sydraql.{CompileOptions, Engine}
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    // one series name over TWO tagsets plus a second name, each append
    // its own files: 4 hours x 3 appends -> 12 files, so name-level
    // pruning alone cannot isolate a host
    def pts(series: String, host: String, off: Long) =
      (0 until 4).map(h => (series, h * 3600L + off, h.toDouble)).toDF("series", "time", "value")
        .withColumn("tags", map(lit("host"), lit(host)))
        .select("series", "tags", "time", "value")
    store.append(pts("cpu", "a", 10))
    store.append(pts("cpu", "b", 11))
    store.append(pts("mem", "a", 20))
    val mdir = SkipIndex.dirFor(store)
    SkipIndex.build(store, mdir)
    // scan-level pin: time (hours 0-2: 9 files) ∧ name (cpu: 6) ∧ tag
    // (host=a: 3)
    val scanned = SkipIndex.scan(store, mdir, ScanProbe(lo = Some(0L),
      hi = Some(2 * 3600L + 20), series = Some("cpu"), tags = Seq(Seq("host" -> "a"))))
    assert(scanned.filesTotal === 12)
    assert(scanned.filesRead === 3,
      s"name ∧ time ∧ tag bloom must read 3 of 12 files, got ${scanned.filesRead}")
    assert(scanned.df.select("time", "value").orderBy("time")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((10L, 0.0), (3610L, 1.0), (7210L, 2.0)))
    // the ENGINE extracts `tag.host = 'a'` and composes it with the name
    // route — same rows, 3 of 12 files in the plan
    def run(ql: String) = Engine.executeOnStore(store, ql, CompileOptions(now = 0L)).df
    val eng = run("select time, value from cpu where time >= 0 and " +
      s"time <= ${2 * 3600 + 20} and tag.host = 'a' order by time")
    assert(eng.inputFiles.length === 3,
      s"engine tag route must read 3 of 12 files, got ${eng.inputFiles.length}")
    assert(eng.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((10L, 0.0), (3610L, 1.0), (7210L, 2.0)))
    // a selector-less WHERE composes time ∧ tag: host=b is exactly cpu's
    // second append, pruned without a name in the query at all
    val tagOnly = run("select time, value where time >= 0 and tag.host = 'b' order by time")
    assert(tagOnly.inputFiles.length === 4,
      s"selector-less tag route must read host b's 4 files, got ${tagOnly.inputFiles.length}")
    assert(tagOnly.count() === 4)
    // a value the store never saw: every file pruned, no rows
    val ghost = run("select time, value from cpu where time >= 0 and tag.host = 'zz' order by time")
    assert(ghost.inputFiles.length === 0 && ghost.count() === 0)
    // a pure-OR-of-tag-equalities disjunct (r17) prunes with the UNION
    // of its pair probes — superset-safe (the WHERE implies the
    // disjunction); both hosts' files survive, both hosts' rows return
    val orq = run("select time, value from cpu where time >= 0 and " +
      "(tag.host = 'a' or tag.host = 'b')")
    assert(orq.inputFiles.length === 8,
      s"OR'd tag equality must keep both hosts' cpu files (8 of 12), got ${orq.inputFiles.length}")
    assert(orq.count() === 8)
    // union with a never-seen value: only the real host's files read
    val orGhost = run("select time, value from cpu where time >= 0 and " +
      "(tag.host = 'a' or tag.host = 'zz') order by time")
    assert(orGhost.inputFiles.length === 4,
      s"OR with a ghost value must prune to host a's cpu files (4 of 12), got ${orGhost.inputFiles.length}")
    assert(orGhost.count() === 4)
    // selector-less OR group composes with time the same way
    val orSel = run("select time, value where time >= 0 and " +
      "(tag.host = 'b' or tag.host = 'zz') order by time")
    assert(orSel.inputFiles.length === 4,
      s"selector-less OR'd tag group must read host b's 4 files, got ${orSel.inputFiles.length}")
    assert(orSel.count() === 4)
    // a MIXED disjunct (tag equality OR a value predicate) is not
    // implied by its tag terms — extraction declines, nothing tightens
    val mixedOr = run("select time, value from cpu where time >= 0 and " +
      "(tag.host = 'a' or value >= 100.0)")
    assert(mixedOr.inputFiles.length === 8,
      s"mixed OR must not prune on tags (8 cpu files), got ${mixedOr.inputFiles.length}")
    assert(mixedOr.count() === 4) // value>=100 matches nothing: host a's rows
  }

  test("tag-equality WHERE serves from the tag tier's cells (r16)") {
    import graft.storage.SketchCells
    import graft.sydraql.{CompileOptions, Engine}
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    val d = 86400L
    // 3 days × 4 hours × hosts a,b with distinct per-host values
    val rows = for {
      day <- 0 to 2; h <- 0 to 3; host <- Seq("a", "b")
    } yield ("m", day * d + h * 3600L,
      (if (host == "a") 10.0 else 100.0) + day * 4 + h, host)
    store.append(rows.toDF("series", "time", "value", "host")
      .withColumn("tags", map(lit("host"), col("host")))
      .select("series", "tags", "time", "value"))
    SketchCells.build(store, SketchCells.dirFor(store), groupTags = Seq("host"))
    val opts = CompileOptions(now = 0L)
    // host a: 10..13 / 14..17 / 18..21 per day → n 12, min 10, max 21,
    // avg 15.5 (exact in double — small integer sums)
    val ql = s"select avg(value) as av, count() as n, min(value) as mn, " +
      s"max(value) as mx from m where time >= 0 and time < ${3 * d} " +
      s"and tag.host = 'a'"
    val res = Engine.executeOnStore(store, ql, opts)
    assert(res.stats.route === "served:cells:tdtag",
      s"tag-filtered rollup must serve from the tag tier, got ${res.stats.route}")
    val served = res.df.head()
    assert((served.getDouble(0), served.getLong(1), served.getDouble(2),
      served.getDouble(3)) === ((15.5, 12L, 10.0, 21.0)))
    assert(served === Engine.sql(spark, store.source(), ql, opts).head(),
      "served result must equal the raw compile")
    // group key == filter key composes: one group, that value's cells
    val grouped = Engine.executeOnStore(store,
      s"select tag.host as h, count() as n from m where time >= 0 and " +
        s"time < ${3 * d} and tag.host = 'b' group by tag.host order by h", opts)
    assert(grouped.stats.route === "served:cells:tdtag")
    assert(grouped.df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("b", 12L)))
    // a filter key DIFFERENT from the group key cannot serve (one tagval
    // dimension per tier) → raw route, which still answers
    val mixed = Engine.executeOnStore(store,
      s"select tag.host as h, count() as n from m where time >= 0 and " +
        s"time < ${3 * d} and tag.dc = 'x' group by tag.host order by h", opts)
    assert(mixed.stats.route === "raw")
    assert(mixed.df.count() === 0)
    // a key without a tag tier falls through too
    val untiered = Engine.executeOnStore(store,
      s"select count() as n from m where time >= 0 and time < ${3 * d} " +
        s"and tag.dc = 'x'", opts)
    assert(untiered.stats.route === "raw")
    // ragged bounds compose: interior days from the filtered cells, the
    // leading edge from the tag-filtered raw scan — hybrid route,
    // raw-equal values (23 h edge < 48 h interior: past the crossover)
    val ragged = s"select avg(value) as av, count() as n from m " +
      s"where time >= 3600 and time < ${3 * d} and tag.host = 'a'"
    val rres = Engine.executeOnStore(store, ragged, opts)
    assert(rres.stats.route === "served:hybrid:tdtag")
    assert(rres.df.head() === Engine.sql(spark, store.source(), ragged, opts).head())
    assert(rres.df.head().getLong(1) === 11L)
    // r17 crossover: a MOSTLY-EDGE window (23 h + 23 h edges around one
    // 24 h interior day) cannot beat the raw route it wraps — the tier
    // declines and the raw route answers, value-identically
    val edgy = s"select avg(value) as av, count() as n from m " +
      s"where time >= 3600 and time < ${3 * d - 3600} and tag.host = 'a'"
    val eres = Engine.executeOnStore(store, edgy, opts)
    assert(eres.stats.route === "raw",
      s"edge-dominated window must fall through to raw, got ${eres.stats.route}")
    assert(eres.df.head() === Engine.sql(spark, store.source(), edgy, opts).head())
  }

  test("manifest schema upgrade is incremental: carried rows keep NULL blooms and stay readable (r16)") {
    import graft.storage.SkipIndex
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    def pts(series: String, off: Long) =
      (0 until 4).map(h => (series, h * 3600L + off, h.toDouble)).toDF("series", "time", "value")
        .withColumn("tags", map(lit("host"), lit(series)))
        .select("series", "tags", "time", "value")
    store.append(pts("cpu", 10))
    store.append(pts("mem", 20))
    val mdir = tmp() + "/manifest"
    SkipIndex.build(store, mdir)
    // simulate a pre-r15 manifest: strip the name/tag blooms in place
    val legacyRows = SkipIndex.read(spark, mdir)
      .drop("bloom_name", "bloom_tags").collect()
    val legacySchema = SkipIndex.read(spark, mdir)
      .drop("bloom_name", "bloom_tags").schema
    val fs = new java.io.File(mdir + "/m")
    org.apache.commons.io.FileUtils.deleteDirectory(fs)
    spark.createDataFrame(
      spark.sparkContext.parallelize(legacyRows.toIndexedSeq), legacySchema)
      .coalesce(1).write.parquet(mdir + "/m")
    graft.storage.MetaCache.invalidate(mdir)
    assert(!SkipIndex.read(spark, mdir).columns.contains("bloom_name"))
    // refresh ONE hour: the upgrade must be O(touched hours) — carried
    // rows gain NULL blooms (unionByName fill), only hour 3's rows are
    // recomputed with real ones
    SkipIndex.refresh(store, mdir, Seq(3 * 3600L))
    val m = SkipIndex.read(spark, mdir)
    assert(m.columns.contains("bloom_name") && m.columns.contains("bloom_tags"))
    assert(m.filter(col("hour_bucket") === 3 * 3600L &&
      col("bloom_name").isNotNull).count() === 2, "refreshed hour gains real blooms")
    assert(m.filter(col("hour_bucket") < 3 * 3600L &&
      col("bloom_name").isNull).count() === 6,
      "carried rows must keep NULL blooms — a full rebuild here would hide O(store) work")
    // a NULL bloom means "cannot prune": the name scan reads the carried
    // files (superset) and the fresh hour prunes — rows stay exact
    val scanned = SkipIndex.scan(store, mdir,
      ScanProbe(lo = Some(0L), hi = Some(4 * 3600L), series = Some("cpu")))
    assert(scanned.filesRead === 7,
      s"6 carried (unprunable) + 1 fresh pruned file, got ${scanned.filesRead}")
    assert(scanned.df.select("time", "value").orderBy("time")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === (0 until 4).map(h => (h * 3600L + 10, h.toDouble)))
    // ghost probe: fresh hour pruned by bloom, carried hours read-and-
    // residual-dropped — correct empty result either way
    val ghost = SkipIndex.scan(store, mdir,
      ScanProbe(lo = Some(0L), hi = Some(4 * 3600L), series = Some("ghost")))
    assert(ghost.filesRead === 6 && ghost.df.isEmpty)
    // tag pruning likewise: NULL-tolerant on carried rows
    val tagScan = SkipIndex.scan(store, mdir, ScanProbe(lo = Some(0L),
      hi = Some(4 * 3600L), tags = Seq(Seq("host" -> "cpu"))))
    assert(tagScan.filesRead === 7)
    assert(tagScan.df.count() === 4)
  }

  test("scanRange without a skip manifest reads only the window's hour directories") {
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    // 40 hours, above the 32-path threshold past which Spark lists a
    // directory tree with a Spark job; three points an hour
    val pts = for { h <- 0 until 40; i <- 0 until 3 }
      yield ("m", Map("host" -> "a"), h * 3600L + i * 1200L, (h * 3 + i).toDouble)
    store.append(pts.toDF("series", "tags", "time", "value"))
    assert(store.partitions().size === 40)
    val all = store.scan()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("time").select("time", "value", "hour_bucket").as[(Long, Double, Long)]
        .collect().toSeq
    def typed(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    for ((lo, hi) <- Seq(
        (5 * 3600L + 600, 7 * 3600L + 10), // inside, clipped at both ends
        (5 * 3600L + 1300, 5 * 3600L + 2300), // inside one hour
        (-7200L, 3600L), // across the first stored hour
        (38 * 3600L + 1, 45 * 3600L), // across the last
        (Long.MinValue, Long.MaxValue), // every hour
        (50 * 3600L, 60 * 3600L), // after every stored hour: no hour selected
        (-9000L, -1L))) { // before every stored hour: no hour selected
      val got = store.scanRange(lo, hi)
      assert(typed(got) === typed(all), s"[$lo, $hi]")
      assert(rows(got) === rows(all.filter(col("time") >= lo && col("time") <= hi)), s"[$lo, $hi]")
    }
    // job-count pin: a 2-hour range read lists its 2 hour directories
    // in-process; a read of the store root lists all 40 with a Spark job
    val (n, jobs) = TestSpark.jobsDuring(store.scanRange(3600L, 2 * 3600L + 1200).count())
    assert(n === 5L)
    assert(!jobs.exists(_.startsWith("Listing leaf files")),
      s"a 2-hour scanRange must run no file-listing job, ran: ${jobs.mkString(" | ")}")
  }

  test("the cell-table schema memo follows rebuilds; refresh keeps its legacy guard") {
    import graft.storage.SketchCells
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    val d = 86400L
    def points(hosts: Seq[String], day: Int) = (for { h <- 0 to 3; host <- hosts }
      yield ("m", day * d + h * 3600L, h.toDouble, host))
      .toDF("series", "time", "value", "host")
      .withColumn("tags", map(lit("host"), col("host")))
      .select("series", "tags", "time", "value")
    store.append(points(Seq("a", "b"), 0).unionByName(points(Seq("b", "c"), 1)))
    val dir = SketchCells.dirFor(store)
    val opts = CompileOptions(now = 0L)
    val ql = s"select ndv(tag.host) as n from m where time >= 0 and time < ${2 * d}"
    def check(route: String): Unit = {
      val res = Engine.executeOnStore(store, ql, opts)
      assert(res.stats.route === route)
      assert(res.df.collect().toSeq === Engine.sql(spark, store.source(), ql, opts).collect().toSeq,
        s"$route answer must equal the raw compile")
    }
    // no NDV keys: the td table has no theta_host partial, so ndv goes raw
    SketchCells.build(store, dir)
    check("raw")
    // rebuilt WITH the key in the same JVM: the memoized schema reloads
    // and the same query serves
    SketchCells.build(store, dir, ndvTags = Seq("host"))
    check("served:cells:td")
    // and without it again: raw again
    SketchCells.build(store, dir)
    check("raw")
    // an append refreshes the touched day; the refresh's legacy guard
    // reads the memoized schema and keeps the theta keys
    SketchCells.build(store, dir, ndvTags = Seq("host"))
    check("served:cells:td")
    store.append(points(Seq("d"), 1))
    check("served:cells:td")
    assert(Engine.executeOnStore(store, ql, opts).df.head().getDouble(0) === 4.0)
  }

  test("a served window of a 40-day cell table reads only its days: one job, no listing job") {
    import graft.storage.SketchCells
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    val d = 86400L
    // one point at noon on each of 40 days: 40 hour and 40 cell-day
    // directories, above Spark's 32-path parallel-listing threshold
    store.append((0 until 40).map(i => ("m", i * d + d / 2, i.toDouble))
      .toDF("series", "time", "value")
      .withColumn("tags", map().cast("map<string,string>"))
      .select("series", "tags", "time", "value"))
    SketchCells.build(store, SketchCells.dirFor(store))
    val opts = CompileOptions(now = 0L)
    def ql(lo: Long, hi: Long) =
      s"select avg(value) as a, count() as n from m where time >= ${lo * d} and time < ${hi * d}"
    def served(lo: Long, hi: Long) = {
      val res = Engine.executeOnStore(store, ql(lo, hi), opts)
      assert(res.stats.route === "served:cells:td", ql(lo, hi))
      res.df.collect().toSeq
    }
    def raw(lo: Long, hi: Long) = Engine.sql(spark, store.source(), ql(lo, hi), opts).collect().toSeq
    served(0, 40) // warm-up: the per-generation memo lists the table once
    // a 32-day window: 32 day directories, listed and read on the driver,
    // where the cells (a few KB) merge with no Spark job
    val (got, jobs) = TestSpark.jobsDuring(served(3, 35))
    assert(jobs.isEmpty, jobs.mkString(" | "))
    assert(got === raw(3, 35))
    assert(served(0, 40) === raw(0, 40))
    // a window past the last cell day reads an empty frame of the memo's schema
    assert(served(50, 60) === raw(50, 60))
    assert(served(50, 60).head.getLong(1) === 0L)
  }

  test("a cell day rewritten behind the writer hook sends the next served query to the Spark merge, which reads the new cells") {
    import graft.storage.SketchCells
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    val d = 86400L
    def pts(xs: Seq[(Long, Double)]) = xs.toDF("time", "value")
      .withColumn("series", lit("m")).withColumn("tags", map().cast("map<string,string>"))
      .select("series", "tags", "time", "value")
    // 4 days, 4 points a day, values 0..15
    store.append(pts((0 until 16).map(i => (i * 21600L, i.toDouble))))
    val dir = SketchCells.dirFor(store)
    SketchCells.build(store, dir)
    val opts = CompileOptions(now = 0L)
    val ql = s"select count() as n, sum(value) as s from m where time >= 0 and time < ${2 * d}"
    def served() = {
      val res = Engine.executeOnStore(store, ql, opts)
      assert(res.stats.route === "served:cells:td")
      (res.stats.served.get.site, res.df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    }
    assert(served() === (("driver", Seq((8L, 28.0)))))
    // day 1's cells rewritten in place without the writer hook: 7 points
    // of 100..106 — a new file name and length under day=86400
    SketchCells.cellsOf(pts((0 until 7).map(j => (d + j * 3600L, 100.0 + j)))
        .withColumn("series_id", graft.core.Functions.seriesId(col("series"), col("tags"))),
        None, Nil)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(s"$dir/td")
    assert(served() === (("spark", Seq((4L + 7L, 6.0 + 721.0)))))
  }

  test("compact after a crash mid-swap: parked hours restored, every row kept, deduped") {
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    // 4 hours, every point written twice: the later write must win
    def pts(v: Double) = (for { h <- 0 until 4; i <- 0 until 5 }
      yield ("m", Map("host" -> "a"), h * 3600L + i * 600L, h * 10 + i + v))
      .toDF("series", "tags", "time", "value")
    store.append(pts(0.0))
    store.append(pts(0.5))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("series", "time", "value").orderBy("time").as[(String, Long, Double)]
        .collect().toSeq
    val want = rows(Maintenance.dedupLastWins(store.scan()))
    assert(want.size === 20 && want.forall(_._3 % 1 == 0.5))
    // the state a crash between park and rename-in leaves: 2 of 4 hours
    // parked in _repack_old, their half-written replacements in _repack_tmp
    val seg = new java.io.File(s"${store.root}/segments")
    val parked = new java.io.File(seg, "_repack_old")
    parked.mkdirs()
    for (h <- Seq(3600L, 10800L)) {
      assert(new java.io.File(seg, s"hour_bucket=$h")
        .renameTo(new java.io.File(parked, s"hour_bucket=$h")))
      val junk = new java.io.File(seg, s"_repack_tmp/hour_bucket=$h")
      junk.mkdirs()
      Files.write(junk.toPath.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    }
    assert(store.scan().count() === 20L) // parked hours invisible mid-crash
    Maintenance.compact(store)
    assert(store.partitions() === Seq(0L, 3600L, 7200L, 10800L))
    assert(rows(store.scan()) === want, "compact must restore and dedup every parked hour")
    assert(!parked.exists() && !new java.io.File(seg, "_repack_tmp").exists(),
      "scratch dirs cleaned")
  }

  test("compactPartitions runs a constant number of jobs, however many hours it compacts") {
    import spark.implicits._
    def store6() = {
      val store = new SeriesStore(spark, tmp())
      val pts = (for { h <- 0 until 6; i <- 0 until 5 }
        yield ("m", Map.empty[String, String], h * 3600L + i * 600L, i.toDouble))
        .toDF("series", "tags", "time", "value")
      store.append(pts)
      store.append(pts)
      store
    }
    val one = store6()
    val six = store6()
    val (_, jobs1) = TestSpark.jobsDuring(Maintenance.compactPartitions(one, Seq(0L)))
    val (_, jobs6) = TestSpark.jobsDuring(
      Maintenance.compactPartitions(six, (0 until 6).map(_ * 3600L)))
    info(s"jobs: 1 hour ${jobs1.size}, 6 hours ${jobs6.size}")
    assert(jobs6.size <= jobs1.size,
      s"6 hours ran ${jobs6.size} jobs, 1 hour ${jobs1.size}: ${jobs6.mkString(" | ")}")
    assert(one.scan().count() === 55L && six.scan().count() === 30L)
    assert(six.partitions() === (0 until 6).map(_ * 3600L))
  }

  test("compaction and DELETE refuse a bucketed store before writing anything") {
    import spark.implicits._
    val store = new SeriesStore(spark, tmp(), seriesBuckets = 4)
    val pts = (for { h <- 0 until 3; i <- 0 until 4 }
      yield (s"s$i", Map.empty[String, String], h * 3600L + i, i.toDouble))
      .toDF("series", "tags", "time", "value")
    store.append(pts)
    store.append(pts)
    def refused(op: => Any) = intercept[IllegalStateException](op)
    refused(Maintenance.compactPartitions(store, Seq(0L)))
    refused(Maintenance.compact(store))
    refused(Maintenance.compactSmallFiles(store, 64L * 1024 * 1024))
    refused(Maintenance.deleteRows(store, col("value") === 1.0))
    refused(Engine.executeOnStore(store,
      "delete from s1 where time >= 0 and time < 20000", CompileOptions(now = 0L)))
    assert(store.scan().count() === 24L)
    assert(store.partitions() === Seq(0L, 3600L, 7200L))
  }

  test("a tier refresh reads only the refreshed day's hours; INSERT lists no directory tree") {
    import graft.storage.SketchCells
    import spark.implicits._
    val store = new SeriesStore(spark, tmp())
    // 48 hours (above the 32-path listing threshold), two series, a
    // point a minute: 2,880 points a day
    val pts = for { s <- Seq("a", "b"); t <- 0L until 48 * 3600L by 60L }
      yield ("m", Map("host" -> s), t, t.toDouble)
    store.append(pts.toDF("series", "tags", "time", "value"))
    val dir = SketchCells.dirFor(store)
    SketchCells.build(store, dir, groupTags = Seq("host"))
    // two tables (td, one tag tier), each recomputed from day 0's points
    val (_, records) = TestSpark.recordsReadDuring(SketchCells.refresh(store, dir, Seq(0L)))
    info(s"refreshing one 2,880-point day of a 5,760-point store read $records records")
    assert(records <= 2 * 2880L, s"refreshing one day read $records records")
    val opts = CompileOptions(now = 0L)
    val (_, jobs) = TestSpark.jobsDuring(
      Engine.executeOnStore(store, "insert into m (time, value, host) values (100, 1.0, 'a')", opts))
    assert(!jobs.exists(_.startsWith("Listing leaf files")), jobs.mkString(" | "))
    val served = Engine.executeOnStore(store,
      s"select count() as n from m where time >= 0 and time < ${2 * 86400}", opts)
    assert(served.stats.route.startsWith("served:cells"), served.stats.route)
    assert(served.df.head().getLong(0) === 2 * 2880L + 1)
  }

  test("a store rooted at a file:// URI reads back what it appended") {
    import spark.implicits._
    val store = new SeriesStore(spark, "file://" + tmp())
    // three hours, a point every ten minutes
    val pts = for (t <- 0L until 3 * 3600L by 600L)
      yield ("m", Map("host" -> "a"), t, t.toDouble)
    store.append(pts.toDF("series", "tags", "time", "value"))
    assert(!store.isEmpty)
    assert(store.scan().count() === pts.size.toLong)
    assert(store.partitions() === Seq(0L, 3600L, 7200L))
    assert(store.scanRange(3600L, 7199L).count() === 6L)
    val q = Engine.executeOnStore(store,
      "select count() as n from m where time >= 3600 and time < 7200", CompileOptions(now = 0L))
    assert(q.df.head().getLong(0) === 6L)
  }
}
