package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import graft.catalog.{GraftMaintenance, GraftManifestIO}
import graft.operators._
import graft.sources.{BlobListingSource, SnapshotStore}
import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The two change-capture workloads. `cdc_boot` drives the reference's
  * production loop through `StreamRunner.boot(maxCycles = 1)` into the
  * copy-on-write snapshot store; `cdc_catalog` drives
  * `StreamMerge.runAvailableNow` into a bucket-declared merge-on-read
  * catalog table. Both land one blob at a time (closed loop), time it
  * until its commit is visible, then read the committed target back.
  */
object Cdc {
  val Keys        = Seq("l_orderkey", "l_linenumber")
  val SetupReps   = 3
  val WarmupCycles = 3
  /** cdc_catalog compaction/expiry cadence, in stream batches. */
  val CompactEvery = 3
  /** cdc_catalog seed file size (planner estimate; ~50 files at 100k
    * rows, more than a blob's keys touch, so bucket pruning has files to
    * skip) and the small-file bound below which compaction folds churn
    * files but never seed files. */
  val SeedFileBytes = 48L << 10
  val SmallFileBytes = 32L << 10

  private final case class Blob(files: Seq[String], mtimes: Seq[Long], rows: Long,
      expectCount: Long, expectQty: Double)

  /** One target with its source, checkpoint and staging dirs. */
  private abstract class Target(val dir: String, val src: String) {
    def seed(seedFile: String, mtime: Long): Unit
    def drain(publisher: MetricsPublisher): Unit
    def version(): Long
    def read(): DataFrame
    /** the catalog stream's config (cdc_catalog only) */
    def mergeCfg: StreamMerge.Config = null
  }

  def run(ctx: Ctx, boot: Boolean): Outcome = {
    val spark = ctx.spark
    val meta  = ctx.meta
    val in    = ctx.inputs
    val seedFile  = s"$in/${meta("seed_file")}"
    val seedMtime = Json.num(meta("seed_mtime_ms")).toLong
    val blobs = Json.seq(meta("blobs")).map { x =>
      val b = x.asInstanceOf[Map[String, Any]]
      Blob(Json.seq(b("files")).map(f => s"$in/$f"), Json.seq(b("mtimes")).map(Json.num(_).toLong),
        Json.num(b("rows")).toLong, Json.num(b("expect_count")).toLong, Json.num(b("expect_qty")))
    }
    val schema = spark.read.parquet(seedFile).schema

    def bootTarget(r: Int): Target = new Target(s"${ctx.work}/target$r", s"${ctx.work}/src$r") {
      val spec =
        s"""source:
           |  configuration:
           |    sourcePath: $src
           |    tempStoragePath: ${ctx.work}/tmp$r
           |    primaryKeys: [${Keys.mkString(", ")}]
           |  fieldSelectionRule:
           |    rule:
           |      all: {}
           |staging:
           |  table:
           |    maxRowsPerFile: 1000000
           |sink:
           |  targetTableFullName: $dir
           |  maintenanceSettings:
           |    targetOptimizeSettings:
           |      batchThreshold: 1
           |      fileSizeThreshold: 512MB
           |    targetSnapshotExpirationSettings:
           |      batchThreshold: 1
           |    targetOrphanFilesExpirationSettings:
           |      batchThreshold: 1
           |streamMode:
           |  changeCapture:
           |    changeCaptureInterval: 1 second
           |""".stripMargin
      val env   = Map(StreamSpec.SpecEnvVar -> spec)
      val ckpt  = s"${ctx.work}/ckpt$r"
      val store = new SnapshotStore(spark, dir)
      def seed(seedFile: String, mtime: Long): Unit = {
        Disk.land(seedFile, src, mtime)
        drain(MetricsPublisher.Noop)
      }
      def drain(publisher: MetricsPublisher): Unit =
        StreamRunner.boot(spark, schema, env, maxCycles = 1, publisher = publisher,
          checkpointDir = Some(ckpt))
      def version(): Long = store.currentVersion().getOrElse(0L)
      def read(): DataFrame = store.read().get
    }

    def catalogTarget(r: Int): Target = new Target(s"${ctx.work}/wh$r/db/lineitem", s"${ctx.work}/src$r") {
      val cat = s"pb$r"
      val table = s"$cat.db.lineitem"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", s"${ctx.work}/wh$r")
      override val mergeCfg = StreamMerge.Config(sourceDir = src, table = table, tableDir = dir,
        checkpointDir = s"${ctx.work}/ckpt$r", primaryKeys = Keys, versionCols = Seq("l_version"),
        compactEveryBatches = Some(CompactEvery), compactSmallBytes = SmallFileBytes,
        expireEveryBatches = Some(CompactEvery), orphansEveryBatches = Some(CompactEvery))
      def io = new GraftManifestIO(new org.apache.hadoop.fs.Path(dir), graft.catalog.GraftConf.hadoop)
      def seed(seedFile: String, mtime: Long): Unit = {
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        StreamMerge.seedTarget(spark, table, spark.read.parquet(seedFile), Keys,
          seedFileBytes = SeedFileBytes)
      }
      def drain(publisher: MetricsPublisher): Unit = StreamMerge.runAvailableNow(spark, schema, mergeCfg)
      def version(): Long = io.currentVersion().getOrElse(0L)
      def read(): DataFrame = spark.table(table)
    }

    def newTarget(r: Int): Target = if (boot) bootTarget(r) else catalogTarget(r)

    // ---- setup: seed the target through the program, several times
    val seedTimes = (0 until SetupReps).map { r =>
      val t = newTarget(r)
      val (_, s) = Clock.time(t.seed(seedFile, seedMtime))
      if (r < SetupReps - 1) Seq(t.dir, t.src, s"${ctx.work}/ckpt$r", s"${ctx.work}/tmp$r",
        s"${ctx.work}/wh$r").foreach(Disk.delete)
      s
    }
    val target = newTarget(SetupReps - 1)
    val failures = ArrayBuffer.empty[String]

    val streamTrace = new StreamTrace
    if (ctx.traced) spark.streams.addListener(streamTrace)
    val side = s"${ctx.work}/side"
    val replay = if (boot) new BootReplay(ctx, target.dir, schema, side) else
      new CatalogReplay(ctx, target.mergeCfg, schema, side)

    // untimed warm-up cycles (the first blobs) let the JIT and the
    // program's caches settle before anything is measured
    val (_, warmS) = Clock.time((0 until WarmupCycles).foreach { i =>
      blobs(i).files.zip(blobs(i).mtimes).foreach { case (f, m) => Disk.land(f, target.src, m) }
      target.drain(MetricsPublisher.Noop)
    })
    ctx.startClock()
    val commitS = ArrayBuffer.empty[Double]
    val untracedS = ArrayBuffer.empty[Double]
    val tracedS = ArrayBuffer.empty[Double]
    val readS = ArrayBuffer.empty[Double]
    var rows = 0L
    var inBytes = 0L
    var written = 0L
    var cycles = 0
    val readSpan = if (boot) "sources.snapshot_read" else "catalog.read"

    def checkRead(b: Blob, got: (Long, Double)): Unit =
      if (got != ((b.expectCount, b.expectQty)))
        failures += s"cycle $cycles read (count, sum qty) = $got, expected (${b.expectCount}, ${b.expectQty})"

    while (failures.isEmpty && cycles + WarmupCycles < blobs.size &&
        (ctx.timeLeft || cycles < 3 || cycles % 3 != 0)) {
      val b = blobs(cycles + WarmupCycles)
      // traced runs rotate: untraced drain, traced drain, traced replay
      val mode = if (!ctx.traced) 0 else cycles % 3
      Trace.enabled = mode != 0
      val v0 = target.version()
      val w0 = Disk.bytesWritten
      val landDir = if (mode == 2) side else target.src
      val landed = b.files.zip(b.mtimes).map { case (f, m) => Disk.land(f, landDir, m) }.sum
      val t0 = System.nanoTime()
      try {
        mode match {
          case 0 => target.drain(MetricsPublisher.Noop)
          case 1 =>
            streamTrace.take(spark.sparkContext) // drop progress of earlier, untraced cycles
            Trace.span("streaming.cycle") {
              val sp = Trace.currentSpan
              target.drain(new SpanPublisher(() => sp))
              val phases = streamTrace.take(spark.sparkContext)
              sp.foreach { s =>
                def sum(k: String) = phases.map(_.getOrElse(k, 0L)).sum / 1000.0
                s.add("add_batch_s", sum("addBatch"))
                s.add("latest_offset_s", sum("latestOffset"))
                s.add("trigger_s", sum("triggerExecution"))
                s.add("trigger_overhead_s", sum("triggerExecution") - sum("addBatch"))
              }
            }
          case _ => Trace.span("cycle.replay")(replay.cycle())
        }
      } catch {
        case t: Throwable => failures += s"cycle $cycles failed: ${t.getClass.getSimpleName}: ${t.getMessage}"
      }
      val c = (System.nanoTime() - t0) / 1e9
      written += Disk.bytesWritten - w0
      if (failures.isEmpty && target.version() <= v0)
        failures += s"cycle $cycles committed no new version"
      commitS += c
      if (mode == 0) untracedS += c else tracedS += c
      rows += b.rows
      inBytes += landed
      cycles += 1
      if (failures.isEmpty) {
        val (got, s) = Clock.time(Trace.span(readSpan) {
          val r = target.read().agg(count(lit(1)), sum(col("l_quantity"))).head()
          (r.getLong(0), r.getDouble(1))
        })
        checkRead(b, got)
        readS += s
      }
    }
    Trace.enabled = false
    if (ctx.traced) spark.streams.removeListener(streamTrace)

    // ---- exports for the oracle and the space metrics (untimed)
    val exportDir = s"${ctx.work}/export_final"
    target.read().write.mode("overwrite").parquet(exportDir)
    val live = Disk.parquetBytes(exportDir)

    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      def med(name: String, k: String) = Stats.median(Trace.named(name).map(_.count(k)))
      def medS(name: String) = Stats.median(Trace.named(name).map(_.seconds))
      val cyc = Trace.named("streaming.cycle")
      val rep = Trace.named("cycle.replay")
      val repIds = rep.map(_.id).toSet
      val kids = Trace.spans.toArray(Array.empty[Span]).filter(s => repIds(s.parent) && s.end > 0)
      val covered = cyc.map(_.count("trigger_s")).sum + kids.map(_.seconds).sum
      val coveredWall = cyc.map(_.seconds).sum + rep.map(_.seconds).sum
      val common = Map(
        "streaming.cycle_s" -> medS("streaming.cycle"),
        "streaming.add_batch_s" -> med("streaming.cycle", "add_batch_s"),
        "streaming.latest_offset_s" -> med("streaming.cycle", "latest_offset_s"),
        "streaming.trigger_overhead_s" -> med("streaming.cycle", "trigger_overhead_s"),
        "streaming.jobs_per_cycle" -> med("streaming.cycle", "jobs"),
        "trace.overhead_frac" -> (Stats.median(tracedS.toSeq.grouped(2).map(_.head).toSeq) /
          Stats.median(untracedS.toSeq) - 1),
        "trace.coverage" -> covered / coveredWall)
      common ++ (if (boot) Map(
        "sources.snapshot_commit_s" -> medS("sources.snapshot_commit"),
        "sources.snapshot_bytes_read" -> med("sources.snapshot_commit", "snapshot_bytes_read"),
        "sources.snapshot_bytes_written" -> med("sources.snapshot_commit", "fs_bytes_written"),
        "sources.snapshot_read_s" -> medS("sources.snapshot_read"),
        "operators.upsert_s" -> medS("operators.upsert"),
        "operators.upsert_shuffle_bytes" -> med("operators.upsert", "shuffle_write_bytes"),
        "operators.maintenance_s" -> medS("operators.maintenance"),
        "operators.maintenance_bytes_rewritten" -> med("operators.maintenance", "fs_bytes_written"))
      else Map(
        "catalog.merge_s" -> medS("catalog.merge"),
        "catalog.merge_jobs" -> med("catalog.merge", "jobs"),
        "catalog.files_opened_per_batch" -> med("catalog.merge", "files_opened"),
        "catalog.prune_ratio" -> Stats.median(Trace.named("catalog.merge")
          .map(s => s.count("files_opened") / math.max(1.0, s.count("live_files")))),
        "catalog.bytes_written" -> med("catalog.merge", "fs_bytes_written"),
        "catalog.commit_attempts_per_commit" -> Stats.median(Trace.named("catalog.merge")
          .map(s => s.count("versions_claimed") / math.max(1.0, s.count("merges")))),
        "catalog.compact_s" -> medS("catalog.compact"),
        "catalog.compact_bytes_rewritten" -> med("catalog.compact", "fs_bytes_written"),
        "catalog.read_s" -> medS("catalog.read"),
        "catalog.read_files_opened" -> med("catalog.read", "files_opened")))
    }
    val landedBlobs = blobs.take(cycles + WarmupCycles)
    Outcome(
      setupS = ctx.sessionS + Stats.median(seedTimes),
      commitS = commitS.toSeq, rowsCommitted = rows, bytesWritten = written,
      inputBytes = inBytes, storedBytes = Disk.dirBytes(target.dir), liveBytes = live,
      readS = readS.toSeq, serveMs = Nil, serveWallS = 0,
      attempted = cycles.toLong, failures = failures.toSeq,
      traffic = Map("cycles" -> cycles, "blob_rows_median" -> Stats.median(landedBlobs.map(_.rows.toDouble)),
        "seed_s" -> seedTimes, "warmup_s" -> warmS),
      layers = layers,
      exports = Map("final" -> exportDir, "blobs" -> landedBlobs.flatMap(_.files).mkString(",")))
  }

  /** One traced change-capture cycle made from the program's public calls. */
  private trait Replay { def cycle(): Unit }

  /** cdc_boot's batch body, call for call as `StreamPipeline` makes it:
    * listing, latest-per-key upsert, staging write, snapshot merge and
    * commit, staging disposal, threshold maintenance. Its blobs land in
    * a side directory the booted stream never lists.
    */
  private final class BootReplay(ctx: Ctx, targetDir: String,
      schema: org.apache.spark.sql.types.StructType, side: String) extends Replay {
    private val spark = ctx.spark
    private val seen = scala.collection.mutable.Set.empty[String]
    private val SV = StreamPipeline.SourceVersionColumn
    private val settings = TargetMaintenance.Settings(batchThreshold = 1,
      targetFileBytes = 512L << 20)
    private var n = 0
    def cycle(): Unit = {
      val blobs = Trace.span("sources.listing")(BlobListingSource.listBlobs(spark, side))
        .filterNot(b => seen(b.name))
      seen ++= blobs.map(_.name)
      val src = spark.read.schema(schema).parquet(blobs.map(_.path): _*)
        .withColumn(SV, col("_metadata.file_modification_time"))
      val keyed = MergeKey.withMergeKey(FieldSelection(src, FieldSelection.All,
        (Keys :+ SV).toSet), Keys)
      val stagedPlan = Upsert.latestByKey(keyed, Seq(MergeKey.ColumnName), Seq(SV))
      val stagedDir = s"${ctx.work}/replay-staging/batch-$n"
      n += 1
      Trace.span("operators.upsert")(Staging.writeStaged(stagedPlan, stagedDir, 1000000))
      val staged = spark.read.schema(stagedPlan.schema).parquet(stagedDir)
      val store = new SnapshotStore(spark, targetDir)
      Trace.span("sources.snapshot_commit") {
        // the merge reads the whole base snapshot; Spark's vectored parquet
        // reads bypass the file-system byte counters, so count its files
        val base = store.currentVersion()
        base.foreach(v => Trace.currentSpan.foreach(_.add("snapshot_bytes_read",
          Disk.parquetBytes(s"$targetDir/data/v$v").toDouble)))
        val merged = base.map(store.readVersion).fold(staged) { t =>
          val (ta, sa) = SchemaMigration.alignPair(t, staged)
          MergeInto.merge(ta, sa, Seq(MergeKey.ColumnName))
        }
        store.commit(merged, maxRowsPerFile = Some(1000000))
      }
      Staging.dispose(spark, stagedDir)
      Trace.span("operators.maintenance")(TargetMaintenance.maybeRun(spark, store, settings, 1L))
    }
  }

  /** cdc_catalog's batch body as `StreamMerge.runAvailableNow` makes it:
    * an idempotent MERGE per batch, threshold compaction, expiry and
    * orphan removal on the batch-id cadence — on its own stream (side
    * source directory, own checkpoint and batch stamp).
    */
  private final class CatalogReplay(ctx: Ctx, cfg: StreamMerge.Config,
      schema: org.apache.spark.sql.types.StructType, side: String) extends Replay {
    private val spark = ctx.spark
    private val stamp = "graft.perfbench.replay.batch"
    def cycle(): Unit = {
      val parent = Trace.currentSpan.orNull
      val resolved = StreamMerge.resolveBuckets(spark, cfg.table, cfg.bucketing, Some(cfg.tableDir))
      val withKey = MergeKey.withMergeKey(spark.readStream.schema(schema).parquet(side), cfg.primaryKeys)
      val keyed = resolved.n.fold(withKey)(n =>
        withKey.withColumn(StreamMerge.BucketColumnName, StreamMerge.bucketExpr(n)))
      val io = new GraftManifestIO(new org.apache.hadoop.fs.Path(cfg.tableDir), graft.catalog.GraftConf.hadoop)
      val q = keyed.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"${ctx.work}/ckpt_side")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Trace.span("catalog.merge", parent) {
            val sp = Trace.currentSpan.get
            val v0 = io.currentVersion().getOrElse(0L)
            sp.add("live_files", io.currentSnapshot().map(_.files.size).getOrElse(0).toDouble)
            StreamMerge.idempotentMerge(cfg.table, Seq(MergeKey.ColumnName), cfg.versionCols,
              resolved.n.filter(_ => resolved.prune), stamp, Some(cfg.tableDir))(batch, batchId)
            sp.add("merges", 1)
            sp.add("versions_claimed", (io.currentVersion().getOrElse(0L) - v0).toDouble)
          }
          if ((batchId + 1) % CompactEvery == 0) Trace.span("catalog.compact", parent) {
            GraftMaintenance.compact(spark, cfg.tableDir, cfg.compactSmallBytes,
              sortCols = resolved.n.map(_ => Seq(StreamMerge.BucketColumnName)).getOrElse(Nil))
            io.expireSnapshots(cfg.keepSnapshots)
            io.removeOrphans()
          }
          ()
        }
        .start()
      q.awaitTermination()
    }
  }
}
