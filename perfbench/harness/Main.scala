package graft.perfbench

/** Benchmark harness entry point: builds the session the program's own
  * way (`GraftSession.builder(local[cores])`), runs one workload, and
  * writes its outcome as JSON (and the spans, when traced).
  *
  * Usage: graft.perfbench.Main --workload W --inputs DIR --work DIR
  *          --seconds S --trace 0|1 --cores N --out FILE [--spans FILE]
  */
object Main {
  val PerLayer: Seq[String] = Seq(
    "streaming.cycle_s", "streaming.add_batch_s", "streaming.latest_offset_s",
    "streaming.trigger_overhead_s", "streaming.jobs_per_cycle",
    "sources.snapshot_commit_s", "sources.snapshot_bytes_read", "sources.snapshot_bytes_written",
    "sources.snapshot_read_s",
    "operators.upsert_s", "operators.upsert_shuffle_bytes",
    "operators.maintenance_s", "operators.maintenance_bytes_rewritten",
    "catalog.merge_s", "catalog.merge_jobs", "catalog.files_opened_per_batch", "catalog.prune_ratio",
    "catalog.bytes_written", "catalog.commit_attempts_per_commit",
    "catalog.compact_s", "catalog.compact_bytes_rewritten", "catalog.read_s", "catalog.read_files_opened",
    "operators.bm25_s", "operators.bm25_jobs", "operators.phrase_s", "operators.phrase_jobs",
    "operators.ann_s", "operators.ann_jobs", "operators.serve_rows_per_result",
    "operators.index_files_live", "operators.serve_sched_wait_s",
    "operators.apply_cdc_s", "operators.apply_cdc_jobs", "operators.apply_cdc_attempts_per_commit",
    "operators.quality_s", "operators.langid_s", "operators.repetition_s", "operators.minhash_s",
    "operators.survivors_s", "operators.decontaminate_s", "operators.pack_s",
    "operators.minhash_candidate_pairs", "operators.dup_yield",
    "operators.curate_shuffle_bytes", "operators.curate_spill_bytes",
    "trace.overhead_frac", "trace.coverage")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val t0 = System.nanoTime()
    val b = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/spark-warehouse")
    val spark = (if (workload == "search_mixed") b.config("spark.scheduler.mode", "FAIR") else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val traced = opt("trace") == "1"
    if (traced) Trace.install(spark.sparkContext)
    val ctx = Ctx(spark, workload, opt("inputs"), opt("work"), opt("seconds").toDouble,
      traced, cores, sessionS)
    val o = try workload match {
      case "cdc_boot"      => Cdc.run(ctx, boot = true)
      case "cdc_catalog"   => Cdc.run(ctx, boot = false)
      case "search_mixed"  => SearchMixed.run(ctx)
      case "curate_corpus" => CurateCorpus.run(ctx)
      case "warm"          => Warm.run(ctx)
      case other           => sys.error(s"unknown workload $other")
    } finally Trace.enabled = false
    val selfS = Trace.selfSeconds
    // a layer the workload does not reach (or a median of no spans) reads 0
    val layers = if (!traced) Map.empty[String, Double]
      else PerLayer.map(k => k -> o.layers.get(k).filterNot(_.isNaN).getOrElse(0.0)).toMap
    Disk.writeString(opt("out"), Json.write(Map(
      "setup_s" -> o.setupS, "session_s" -> sessionS, "commit_s" -> o.commitS,
      "rows_committed" -> o.rowsCommitted, "bytes_written" -> o.bytesWritten,
      "input_bytes" -> o.inputBytes, "stored_bytes" -> o.storedBytes, "live_bytes" -> o.liveBytes,
      "read_s" -> o.readS, "serve_ms" -> o.serveMs, "serve_wall_s" -> o.serveWallS,
      "attempted" -> o.attempted, "failures" -> o.failures, "traffic" -> o.traffic,
      "layers" -> layers, "self_s" -> selfS, "exports" -> o.exports)))
    opt.get("spans").filter(_ => traced).foreach(f => Disk.writeString(f, Trace.jsonLines.mkString("\n")))
    spark.stop()
  }
}
