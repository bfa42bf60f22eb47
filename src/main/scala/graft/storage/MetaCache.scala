package graft.storage

import scala.util.control.NonFatal

/** Per-(dir, refresh-generation) memo for serving-path METADATA — tier
  * existence checks, group-tag lists, the cell tables' schemas and
  * per-day file bytes ([[SketchCells.readTable]]: a served read with a
  * known schema runs no parquet schema-inference job, and the bytes size
  * its merge), manifest rows and file totals.
  *
  * Why: every engine-served query was paying 3–4 filesystem round-trips
  * of pure metadata (`SketchCells.exists` + an NDV-key parquet schema
  * open + `groupTagsOf` directory listing, and each routed skip-scan's
  * `m.count()` evidence) — single-digit ms locally, but at dashboard QPS
  * against an object store those are avoidable remote calls on EVERY
  * query. The values only change when a writer changes the tier, and
  * every writer calls [[invalidate]] ([[SketchCells.build]]/
  * [[SketchCells.refresh]], [[SkipIndex.build]]/[[SkipIndex.refresh]],
  * the streaming maintenance twins).
  *
  * Cross-JVM freshness (r15, hardened r16): the generation is
  * PERSISTED — every [[invalidate]] rewrites a `_meta_generation`
  * marker file in the dir with a fresh UUID, and [[cached]] keys the
  * memo on the marker's CONTENT (one small metadata-file read per
  * lookup). r15 keyed on the marker's mtime:length stat, which missed a
  * bump when two invalidates landed in one mtime granule with
  * equal-length content and the `setTimes` fixup was unsupported
  * (object stores); content with a UUID always changes, so the fixup —
  * and its silent-failure hole — is gone. A separate maintenance JVM's
  * refresh therefore invalidates a long-lived serving JVM's memo at its
  * next query. Out-of-band filesystem surgery that bypasses
  * `invalidate` remains outside the serving contract (the maintenance
  * swap protocol's reader-quiescence stance).
  *
  * Query-scope stat batching (r16): one routed query hits several
  * cached keys on the SAME dir (exists, filesTotal, manifest rows, the
  * cell tier's schema keys), and a per-lookup marker read re-adds the
  * per-query round-trips the memo exists to remove. [[Engine
  * .executeOnStore]] wraps each query in [[scoped]], which snapshots
  * the marker read per dir for the scope's duration — one metadata
  * read per dir per query, every further lookup free. [[invalidate]]
  * drops the snapshot for its dir, so a writer arm's own reads re-check.
  *
  * `loads` counts memo misses (actual filesystem loads) so tests can pin
  * "N served queries → one load" and "a refresh invalidates";
  * `markerReads` counts marker-file reads so tests can pin the
  * one-read-per-dir-per-scope contract.
  */
private[graft] object MetaCache {

  private[storage] val MarkerName = "_meta_generation"

  private val gen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  // last generation key observed per dir — lets a cross-JVM bump purge
  // the dir's stale entries instead of leaking them
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), AnyRef]()
  val loads = new java.util.concurrent.atomic.AtomicLong()
  val markerReads = new java.util.concurrent.atomic.AtomicLong()
  // dirs whose marker write failed unexpectedly — warn ONCE per dir
  // (private[graft] so the negative spec can pin the warning happened)
  private[graft] val markerWriteFailures =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // dirs whose marker READ failed for a reason other than absence
  // (permissions, remote errors) — same once-per-dir loudness: a
  // persistent read failure silently aliases to "absent" otherwise,
  // serving stale cross-JVM metadata with no signal (r17, ADVICE)
  private[graft] val markerReadFailures =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // one Configuration per process: newHadoopConf() copies every session
  // property, far too heavy for a per-lookup stat; FS settings do not
  // change mid-process in this engine's deployment shape
  @volatile private var conf: org.apache.hadoop.conf.Configuration = _
  private[storage] def hadoopConf(): org.apache.hadoop.conf.Configuration = {
    if (conf == null) conf =
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration())
    conf
  }

  private def markerPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, MarkerName)

  // per-thread scope snapshot of extGen per dir (see scaladoc). A query
  // resolves its routing on the driver thread that called executeOnStore,
  // so thread-local is the right scope carrier.
  private val scopeSnap =
    new ThreadLocal[java.util.HashMap[String, String]]()

  /** Run `f` with marker reads snapshotted per dir: the first [[cached]]
    * lookup on a dir pays one marker read, every further lookup inside
    * the scope reuses it. Nested scopes share the outermost snapshot.
    */
  def scoped[T](f: => T): T =
    if (scopeSnap.get() != null) f
    else {
      scopeSnap.set(new java.util.HashMap[String, String]())
      try f finally scopeSnap.remove()
    }

  /** The persisted half of the generation key: the marker's CONTENT from
    * one small read, or "absent" when no writer has ever stamped this dir
    * (then the in-process counter is the whole key). A torn read during a
    * concurrent rewrite yields partial content — a key that matches no
    * memoized generation, so the reader reloads: always the safe side.
    */
  private def readMarker(dir: String): String =
    try {
      val p = markerPath(dir)
      markerReads.incrementAndGet()
      val fs = p.getFileSystem(hadoopConf())
      val in = fs.open(p)
      try {
        // read to EOF: a single read() may legally return short on
        // remote streams, and a truncated key could alias a different
        // generation — the exact staleness the content key prevents
        val out = new java.io.ByteArrayOutputStream(128)
        val buf = new Array[Byte](128)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        val s = out.toString("UTF-8")
        if (s.isEmpty) "absent" else s
      } finally in.close()
    } catch {
      // A genuinely missing marker (no writer ever stamped this dir) is
      // the normal "absent" case. Any OTHER read failure — permissions,
      // remote-store errors — also degrades to "absent" (same-JVM
      // correctness holds via the in-process counter), but silently
      // treating it as absent could serve stale CROSS-JVM metadata for
      // as long as the failure persists, so it warns once per dir,
      // mirroring the marker-WRITE failure path below.
      case _: java.io.FileNotFoundException => "absent"
      case NonFatal(e) =>
        if (markerReadFailures.add(dir))
          System.err.println(s"[graft] MetaCache: failed to read generation " +
            s"marker in $dir — this JVM may serve stale cross-JVM metadata " +
            s"until the read succeeds: $e")
        "absent"
    }

  private def extGen(dir: String): String = {
    val sc = scopeSnap.get()
    if (sc == null) readMarker(dir)
    else {
      val hit = sc.get(dir)
      if (hit != null) hit
      else { val g = readMarker(dir); sc.put(dir, g); g }
    }
  }

  private def genKey(dir: String): String =
    gen.getOrDefault(dir, 0L).toString + "/" + extGen(dir)

  /** Bump `dir`'s generation (writer hook): advance the in-process
    * counter, drop the dir's memo entries (and any scope snapshot), and
    * stamp the persisted marker so readers in OTHER JVMs reload too.
    */
  def invalidate(dir: String): Unit = {
    gen.merge(dir, 1L, (a, b) => a + b)
    val it = memo.keySet().iterator()
    while (it.hasNext) if (it.next()._1 == dir) it.remove()
    Option(scopeSnap.get()).foreach(_.remove(dir))
    try {
      val p = markerPath(dir)
      val fs = p.getFileSystem(hadoopConf())
      // A tier that hasn't been built yet has no dir — and Hadoop's
      // fs.create makes parents, so writing the marker anyway would
      // MATERIALIZE the tier directory containing only the marker (a
      // trap for dir-existence checks). Skip the write: the in-process
      // counter already bumped, and a first build writes data before
      // its own invalidate, so cross-JVM readers never miss a real tier.
      // (The exists→create window is a TOCTOU against a concurrent
      // FIRST build in another JVM, whose own post-build invalidate is
      // what stamps the tier — concurrent build+invalidate of one tier
      // from two JVMs is outside the maintenance contract's
      // reader-quiescence stance, like all out-of-band surgery.)
      if (fs.exists(new org.apache.hadoop.fs.Path(dir))) {
        val out = fs.create(p, true)
        // a fresh UUID per stamp: the content — the generation key —
        // changes on EVERY invalidate, including two landing in the same
        // mtime millisecond on a store with no setTimes support
        try out.write(
          (java.util.UUID.randomUUID().toString + ":" + gen.get(dir))
            .getBytes("UTF-8"))
        finally out.close()
      }
    } catch {
      // an unexpected marker-write failure keeps same-JVM readers
      // correct (the counter bumped) but leaves OTHER JVMs serving
      // stale metadata until the next successful stamp — loud, once
      case NonFatal(e) =>
        if (markerWriteFailures.add(dir))
          System.err.println(s"[graft] MetaCache: failed to persist generation " +
            s"marker in $dir — cross-JVM readers may serve stale metadata " +
            s"until a later refresh succeeds: $e")
    }
  }

  /** Memoized `load` under the dir's current generation (in-process
    * counter + persisted marker content — at most one marker read per
    * lookup, and per query scope only the dir's FIRST lookup pays it).
    */
  def cached[T <: AnyRef](dir: String, key: String)(load: => T): T = {
    val g = genKey(dir)
    val prev = seen.put(dir, g)
    if (prev != null && prev != g) {
      // another JVM moved the marker: purge this dir's stale entries
      val it = memo.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k._1 == dir && k._2 != g) it.remove()
      }
    }
    memo.computeIfAbsent((dir, g, key), _ => {
      loads.incrementAndGet(); load
    }).asInstanceOf[T]
  }
}
