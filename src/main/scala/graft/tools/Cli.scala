package graft.tools

import graft.api.{HttpApi, PgWireServer}
import graft.storage.{Config, Ingest, Maintenance, ScanProbe, SeriesStore, SydraImport}

/** Unified CLI mirroring the reference's subcommand surface
  * (`/root/reference/src/sydra/server.zig:9-31`):
  *
  * ```
  * sbt "runMain graft.tools.Cli [serve]"            # HTTP + pgwire
  * sbt "runMain graft.tools.Cli pgwire [addr] [port]"
  * sbt "runMain graft.tools.Cli ingest"             # NDJSON on stdin
  * sbt "runMain graft.tools.Cli query <series_id> <start_ts> <end_ts>"
  * sbt "runMain graft.tools.Cli compact"
  * sbt "runMain graft.tools.Cli snapshot <dest>"
  * sbt "runMain graft.tools.Cli restore <src>"
  * sbt "runMain graft.tools.Cli stats"
  * ```
  *
  * Config comes from `sydradb.toml` in the working directory, defaults
  * otherwise (`server.zig:34-48`); `retention_days` / `retention.<ns>`
  * are applied on `serve` startup.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val cfg = Config.loadOrDefault()
    val cmd = args.headOption.getOrElse("serve")
    val spark = graft.SparkEntry.localSession(4)
    val store = new SeriesStore(spark, cfg.dataDir)
    try run(cmd, args.drop(1), cfg, store)
    finally if (cmd != "serve" && cmd != "pgwire") spark.stop()
  }

  private[graft] def run(cmd: String, args: Array[String], cfg: Config, store: SeriesStore): Unit =
    cmd match {
      case "serve" =>
        if (cfg.retentionDays > 0 || cfg.retentionNs.nonEmpty)
          Maintenance.applyRetention(store, cfg.retentionDays, cfg.retentionNs,
            System.currentTimeMillis() / 1000)
        val api = new HttpApi(store, token = Option(cfg.authToken).filter(_.nonEmpty))
        val httpPort = api.start(cfg.httpPort)
        val pgPort = new PgWireServer(store).start(6432)
        println(s"sydradbspark serve http=127.0.0.1:$httpPort pgwire=127.0.0.1:$pgPort data=${cfg.dataDir}")
        Thread.currentThread().join()
      case "pgwire" =>
        // address arg accepted for parity; the JDK server binds loopback
        val port = args.lift(1).map(_.toInt).getOrElse(6432)
        val bound = new PgWireServer(store).start(port)
        println(s"sydradb pgwire 127.0.0.1:$bound")
        Thread.currentThread().join()
      case "ingest" =>
        // stdin NDJSON by default; `ingest --csv <path>` / `ingest <path>`
        // load files (CSV is a stub in the reference, cmd/sydra-csv).
        // Anything else is a usage error — falling through to stdin would
        // block forever while the user thinks their file is loading
        val n = args.toList match {
          case Nil => Ingest.stdin(store)
          case "--csv" :: path :: Nil => Ingest.csv(store, path)
          case path :: Nil if !path.startsWith("-") => Ingest.batch(store, path)
          case other =>
            System.err.println(s"usage: ingest [--csv <path> | <path>]  (got: ${other.mkString(" ")})")
            sys.exit(2)
        }
        println(s"ingested $n points")
      case "query" =>
        // by-id range scan, CSV lines on stdout (server.zig:117-132).
        // Arity-checked like ingest: missing operands get a usage line, not
        // an ArrayIndexOutOfBoundsException stack trace
        args.toList match {
          case sidStr :: startStr :: endStr :: Nil =>
            val sid = java.lang.Long.parseUnsignedLong(sidStr)
            store.scanPruned(ScanProbe(Some(startStr.toLong), Some(endStr.toLong),
                seriesId = Some(sid))).df
              .orderBy("time")
              .select("time", "value")
              .toLocalIterator().forEachRemaining { r =>
                println(s"${r.getLong(0)},${r.getDouble(1)}")
              }
          case other =>
            System.err.println(s"usage: query <series_id> <start_ts> <end_ts>  (got: ${other.mkString(" ")})")
            sys.exit(2)
        }
      case "compact" => Maintenance.compact(store)
      case "snapshot" => args.toList match {
        case dest :: Nil => Maintenance.snapshot(store, dest)
        case other =>
          System.err.println(s"usage: snapshot <dest>  (got: ${other.mkString(" ")})")
          sys.exit(2)
      }
      case "restore" => args.toList match {
        // restore = import the snapshot dir into the configured data dir
        // (snapshot.zig restore copies files; parquet segments copy 1:1)
        case src :: Nil =>
          copyInto(new java.io.File(src), new java.io.File(cfg.dataDir))
          store.spark.catalog.clearCache()
        case other =>
          System.err.println(s"usage: restore <src>  (got: ${other.mkString(" ")})")
          sys.exit(2)
      }
      case "stats" =>
        val segs = countFiles(new java.io.File(cfg.dataDir, "segments"))
        println(s"segments_total $segs")
        // allocator-shard stats have no JVM analog (server.zig:168-193);
        // report heap occupancy instead
        val rt = Runtime.getRuntime
        println(s"jvm.heap used=${rt.totalMemory - rt.freeMemory} max=${rt.maxMemory}")
      case "export" => args.toList match { // bonus: SYSEG2 data-dir export for sydradb interop
        case dest :: Nil => println(s"exported ${SydraImport.exportDataDir(store, dest)} points")
        case other =>
          System.err.println(s"usage: export <dest>  (got: ${other.mkString(" ")})")
          sys.exit(2)
      }
      case "import" => args.toList match { // bonus: sydradb data-dir import (segments + WAL tail)
        case src :: Nil => println(s"imported ${SydraImport.importDataDir(store, src)} rows")
        case other =>
          System.err.println(s"usage: import <src>  (got: ${other.mkString(" ")})")
          sys.exit(2)
      }
      case other =>
        System.err.println(
          s"unknown command '$other' (serve|pgwire|ingest|query|compact|snapshot|restore|stats|export|import)")
        sys.exit(2)
    }

  private def countFiles(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) 1L
    else dir.listFiles().map(countFiles).sum

  private def copyInto(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(c => copyInto(c, new java.io.File(dst, c.getName)))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }
}
