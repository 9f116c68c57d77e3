package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import graft.CurateRunner
import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.streaming.StreamSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus curation through the spec-driven boot path: each run is
  * `CurateRunner.run` over the generated corpus (quality → language →
  * repetition → near dedup → Bloom decontamination → packing), timed
  * from input to curated output written, then read back.
  */
object CurateCorpus {
  val SetupReps = 3
  val MinRuns = 2

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val meta = ctx.meta
    val input = s"${ctx.inputs}/${meta("docs_file")}"
    val bench = s"${ctx.inputs}/${meta("bench_file")}"
    val budget = Json.num(meta("token_budget")).toLong
    def spec(out: String) =
      s"""curation:
         |  input: $input
         |  output: $out
         |  idColumn: doc_id
         |  textColumn: text
         |  minQuality: ${meta("min_quality")}
         |  languages: [en]
         |  maxDup3GramFrac: ${meta("max_dup3")}
         |  dedup: near
         |  useBloomDecontamination: true
         |  decontaminateAgainst: $bench
         |  decontaminateShingleN: 3
         |  tokenBudget: $budget
         |""".stripMargin

    // ---- setup: parse the spec and open the corpus and the benchmark suite
    val setups = (0 until SetupReps).map { _ =>
      Clock.time {
        CurateRunner.config(StreamSpec.parse(spec(s"${ctx.work}/unused")))
        spark.read.parquet(input).count() + spark.read.parquet(bench).count()
      }._2
    }
    val inputDocs = spark.read.parquet(input).count()
    val inputBytes = Disk.parquetBytes(input)

    // one untimed run lets the JIT settle before anything is measured
    val (_, warmS) = Clock.time(CurateRunner.run(spark, StreamSpec.parse(spec(s"${ctx.work}/warmup"))))
    Disk.delete(s"${ctx.work}/warmup")
    ctx.startClock()
    val failures = ArrayBuffer.empty[String]
    val commitS = ArrayBuffer.empty[Double]
    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val readS = ArrayBuffer.empty[Double]
    var written = 0L
    var runs = 0
    var keptLast = -1L
    var lastOut = ""
    while (failures.isEmpty && (ctx.timeLeft || runs < MinRuns)) {
      val out = s"${ctx.work}/curated$runs"
      val stagedRun = ctx.traced && runs % 2 == 1
      Trace.enabled = stagedRun
      val w0 = Disk.bytesWritten
      val (kept, s) = Clock.time {
        try {
          if (stagedRun) Trace.span("curate.staged")(staged(ctx, input, bench, budget, out))
          else CurateRunner.run(spark, StreamSpec.parse(spec(out))).keptDocs
        } catch {
          case t: Throwable => failures += s"curation run $runs failed: ${t.getMessage}"; -1L
        }
      }
      written += Disk.bytesWritten - w0
      commitS += s
      (if (stagedRun) traced else untraced) += s
      runs += 1
      if (failures.isEmpty) {
        if (keptLast >= 0 && kept != keptLast)
          failures += s"run $runs kept $kept docs, the previous run kept $keptLast"
        keptLast = kept
        val (n, r) = Clock.time(spark.read.parquet(out).agg(count(lit(1))).head().getLong(0))
        if (n != kept) failures += s"read of run $runs saw $n docs, the run reported $kept"
        readS += r
        if (lastOut.nonEmpty) Disk.delete(lastOut)
        lastOut = out
      }
    }
    Trace.enabled = false

    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      def medS(name: String) = Stats.median(Trace.named(name).map(_.seconds))
      val stages = Seq("quality", "langid", "repetition", "minhash", "survivors", "decontaminate", "pack")
        .flatMap(n => Trace.named(s"operators.$n"))
      val nRuns = math.max(1, Trace.named("curate.staged").size)
      val mh = Trace.named("operators.minhash")
      Map(
        "operators.quality_s" -> medS("operators.quality"),
        "operators.langid_s" -> medS("operators.langid"),
        "operators.repetition_s" -> medS("operators.repetition"),
        "operators.minhash_s" -> medS("operators.minhash"),
        "operators.survivors_s" -> medS("operators.survivors"),
        "operators.decontaminate_s" -> medS("operators.decontaminate"),
        "operators.pack_s" -> medS("operators.pack"),
        "operators.minhash_candidate_pairs" -> Stats.median(mh.map(_.count("candidate_pairs"))),
        "operators.dup_yield" -> mh.map(_.count("confirmed_pairs")).sum /
          math.max(1.0, mh.map(_.count("candidate_pairs")).sum),
        "operators.curate_shuffle_bytes" -> stages.map(_.count("shuffle_write_bytes")).sum / nRuns,
        "operators.curate_spill_bytes" -> stages.map(_.count("spill_bytes")).sum / nRuns,
        "trace.overhead_frac" -> (Stats.median(traced.toSeq) / Stats.median(untraced.toSeq) - 1),
        "trace.coverage" -> stages.map(_.seconds).sum / math.max(1e-9, traced.sum))
    }
    Outcome(
      setupS = ctx.sessionS + Stats.median(setups),
      commitS = commitS.toSeq, rowsCommitted = inputDocs * runs, bytesWritten = written,
      inputBytes = inputBytes * runs, storedBytes = Disk.dirBytes(lastOut), liveBytes = inputBytes,
      readS = readS.toSeq, serveMs = Nil, serveWallS = 0,
      attempted = runs.toLong, failures = failures.toSeq,
      traffic = Map("runs" -> runs, "input_docs" -> inputDocs, "kept_docs" -> keptLast,
        "token_budget" -> budget, "warmup_s" -> warmS),
      layers = layers,
      exports = Map("final" -> lastOut))
  }

  /** `CurationPipeline.run`'s stages as the public calls it makes, each
    * materialized inside its own span. Returns the kept-doc count.
    */
  private def staged(ctx: Ctx, input: String, benchPath: String, budget: Long, out: String): Long = {
    val spark = ctx.spark
    val meta = ctx.meta
    val (id, text) = ("doc_id", "text")
    val docs = spark.read.parquet(input)
    def step(name: String)(f: => DataFrame): DataFrame =
      Trace.span(s"operators.$name")(f.localCheckpoint())
    var kept: DataFrame = docs
    kept = step("quality")(kept.join(TextAnalysis.qualityScore(docs, id, text)
      .filter(col("quality_score") >= Json.num(meta("min_quality"))).select(col(id)),
      Seq(id), "left_semi"))
    kept = step("langid")(kept.join(TextAnalysis.langId(docs, id, text)
      .filter(col("predicted_lang").isin("en")).select(col(id)), Seq(id), "left_semi"))
    kept = step("repetition")(kept.join(TextAnalysis.repetitionProfile(docs, id, text)
      .filter(col("dup_3gram_frac") <= Json.num(meta("max_dup3"))).select(col(id)),
      Seq(id), "left_semi"))
    val pairs = Trace.span("operators.minhash") {
      // minhashNearDups' defaults: 3-shingles, 64 permutations in 16 bands, Jaccard >= 0.5
      val cands = Dedup.lshCandidatePairs(kept, id, text, 3, 16, 4).localCheckpoint()
      val confirmed = Dedup.jaccardForPairs(cands, kept, id, text, 3)
        .filter(col("jaccard") >= 0.5).localCheckpoint()
      Trace.currentSpan.foreach { s =>
        s.add("candidate_pairs", cands.count().toDouble)
        s.add("confirmed_pairs", confirmed.count().toDouble)
      }
      confirmed
    }
    kept = step("survivors")(Dedup.resolveSurvivors(kept, pairs, id))
    val bench = spark.read.parquet(benchPath)
    kept = step("decontaminate")(kept.join(
      Curation.contaminatedDocsBloom(kept, bench, id, text, 3), Seq(id), "left_anti"))
    kept = step("pack")(kept.join(
      Curation.packAssignments(kept.select(col(id), col(text)), id, text, budget)
        .select(col(id), col("seq_id")), Seq(id)))
    kept.write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
  }
}
