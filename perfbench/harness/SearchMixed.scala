package graft.perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.operators.{AnnIndex, InvertedIndex}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Writes beside reads on the serving indexes: `cores - 1` reader
  * clients run a generated mix of BM25, phrase and ANN serves (closed
  * loop, one FAIR pool each); one writer applies the next
  * `InvertedIndex.applyCdc` batch after every fixed number of completed
  * serves, so the read:write ratio holds whichever side gets faster.
  */
object SearchMixed {
  val SetupReps = 3
  val K = 10
  val MinServes = 30
  val MinCommits = 3

  private final case class Serve(kind: String, q: Int)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val meta = ctx.meta
    val in = ctx.inputs
    def strs(k: String) = Json.seq(meta(k)).map(_.toString)
    val bm25Q = strs("bm25")
    val phraseQ = strs("phrase")
    val probes = spark.read.parquet(s"$in/${meta("probes_file")}").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble))).sortBy(_._1)
    val streams = Json.seq(meta("streams")).map(Json.seq(_).map { x =>
      val p = Json.seq(x); Serve(p(0).toString, Json.num(p(1)).toInt)
    })
    val batches = Json.seq(meta("cdc")).map(_.asInstanceOf[Map[String, Any]])
    val servesPerWrite = Json.num(meta("serves_per_write")).toInt
    val docsFile = s"$in/${meta("docs_file")}"
    val embFile = s"$in/${meta("emb_file")}"

    // ---- setup: build both serving indexes through the program
    val builds = (0 until SetupReps).map { r =>
      val (_, s) = Clock.time {
        InvertedIndex.build(spark.read.parquet(docsFile), "doc_id", "text", s"${ctx.work}/lex$r")
        AnnIndex.build(spark.read.parquet(embFile), "vec_id", "embedding", s"${ctx.work}/ann$r",
          nCells = 16)
      }
      if (r < SetupReps - 1) { Disk.delete(s"${ctx.work}/lex$r"); Disk.delete(s"${ctx.work}/ann$r") }
      s
    }
    val lexDir = s"${ctx.work}/lex${SetupReps - 1}"
    val annDir = s"${ctx.work}/ann${SetupReps - 1}"

    def serveOnce(s: SparkSession, sv: Serve): Array[Row] = {
      import s.implicits._
      sv.kind match {
        case "bm25" => InvertedIndex.bm25TopKText(s, lexDir, Seq(bm25Q(sv.q)), k = K).collect()
        case "phrase" => InvertedIndex.phraseTopK(s, lexDir, Seq(phraseQ(sv.q)), k = K).collect()
        case _ =>
          val (pid, v) = probes(sv.q)
          AnnIndex.topK(Seq((pid, v)).toDF("vec_id", "embedding"), "vec_id", "embedding", annDir,
            k = K, nProbe = 4).collect()
      }
    }

    // untimed warm-up: each serve kind twice and CDC batch 0
    val (_, warmS) = Clock.time {
      for (kind <- Seq("bm25", "phrase", "ann")) serveOnce(spark, Serve(kind, 0))
      InvertedIndex.applyCdc(spark.read.parquet(s"$in/${batches(0)("upserts")}"),
        spark.read.parquet(s"$in/${batches(0)("removals")}"), "doc_id", "text", lexDir)
    }

    ctx.startClock()
    val stop = new AtomicBoolean(false)
    val served = new AtomicLong(0)
    val failures = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val serveMs = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val untracedMs = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val tracedMs = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val kindCount = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    Trace.enabled = ctx.traced
    val t0 = System.nanoTime()
    val readers = (0 until math.max(1, ctx.cores - 1)).map { c =>
      val th = new Thread(() => {
        val s = spark.newSession()
        s.sparkContext.setLocalProperty("spark.scheduler.pool", s"client-$c")
        val seq = streams(c % streams.size)
        var i = 0
        while (!stop.get()) {
          val sv = seq(i % seq.size)
          val traced = ctx.traced && i % 2 == 1
          val a = System.nanoTime()
          try {
            val rows = if (!traced) serveOnce(s, sv) else Trace.span(s"operators.${sv.kind}") {
              val out = serveOnce(s, sv)
              Trace.currentSpan.foreach(_.add("result_rows", out.length.toDouble))
              out
            }
            if (rows.isEmpty) failures.add(s"${sv.kind} serve ${sv.q} returned no rows")
          } catch {
            case t: Throwable => failures.add(s"${sv.kind} serve failed: ${t.getMessage}")
          }
          val ms = (System.nanoTime() - a) / 1e6
          serveMs.add(ms)
          (if (traced) tracedMs else untracedMs).add(ms)
          kindCount.merge(sv.kind, 1L, (x, y) => x + y)
          served.incrementAndGet()
          i += 1
        }
      }, s"perfbench-reader-$c")
      th.start()
      th
    }

    // ---- writer: one CDC batch per `servesPerWrite` completed serves
    val commitS = ArrayBuffer.empty[Double]
    val commitTraced = ArrayBuffer.empty[Double]
    val readFirst = ArrayBuffer.empty[Double]
    var applied = 1
    var rows = 0L
    var written = 0L
    var inBytes = 0L
    val hardStop = System.nanoTime() + (ctx.seconds * 4e9).toLong
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "writer")
    while (failures.isEmpty && applied < batches.size && System.nanoTime() < hardStop &&
        (ctx.timeLeft || served.get() < MinServes || applied <= MinCommits)) {
      if (served.get() < applied.toLong * servesPerWrite) Thread.sleep(2)
      else {
        val b = batches(applied)
        val up = spark.read.parquet(s"$in/${b("upserts")}")
        val rm = spark.read.parquet(s"$in/${b("removals")}")
        val traced = ctx.traced && applied % 2 == 1
        val w0 = Disk.bytesWritten
        val (_, s) = Clock.time {
          if (traced) Trace.span("operators.apply_cdc") {
            val v0 = InvertedIndex.currentManifest(spark, lexDir).version
            InvertedIndex.applyCdc(up, rm, "doc_id", "text", lexDir)
            Trace.currentSpan.foreach(_.add("versions_claimed",
              (InvertedIndex.currentManifest(spark, lexDir).version - v0).toDouble))
          } else InvertedIndex.applyCdc(up, rm, "doc_id", "text", lexDir)
        }
        written += Disk.bytesWritten - w0
        (if (traced) commitTraced else commitS) += s
        rows += Json.num(b("rows")).toLong
        inBytes += Disk.parquetBytes(s"$in/${b("upserts")}") + Disk.parquetBytes(s"$in/${b("removals")}")
        applied += 1
        // the first read of the new index version pays its cold caches
        val (_, r) = Clock.time(serveOnce(spark, Serve("bm25", 0)))
        readFirst += r
      }
    }
    stop.set(true)
    readers.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    Trace.enabled = false

    // ---- checks: the CDC'd index answers like a fresh build over the
    // final corpus; ANN recall against brute force
    val corpus = mutable.LinkedHashMap.empty[Long, String]
    spark.read.parquet(docsFile).collect().foreach(r => corpus(r.getLong(0)) = r.getString(1))
    batches.take(applied).foreach { b =>
      spark.read.parquet(s"$in/${b("removals")}").collect().foreach(r => corpus.remove(r.getLong(0)))
      spark.read.parquet(s"$in/${b("upserts")}").collect().foreach(r => corpus(r.getLong(0)) = r.getString(1))
    }
    val finalDir = s"${ctx.work}/final_corpus"
    corpus.toSeq.toDF("doc_id", "text").repartition(ctx.cores).write.parquet(finalDir)
    val fresh = s"${ctx.work}/lex_fresh"
    InvertedIndex.build(spark.read.parquet(finalDir), "doc_id", "text", fresh)
    def answers(dir: String, kind: String, q: String): (Seq[Double], Set[(Long, Double)]) = {
      val rs = (if (kind == "bm25") InvertedIndex.bm25TopKText(spark, dir, Seq(q), k = K)
        else InvertedIndex.phraseTopK(spark, dir, Seq(q), k = K)).collect()
      // bm25 ranks by `score`, phrase by the phrase count `n`
      val scored = rs.map { r =>
        val sc = r.getAs[Any](if (kind == "bm25") "score" else "n").toString.toDouble
        (r.getAs[Long]("doc_id"), math.rint(sc * 1e6) / 1e6)
      }
      val scores = scored.map(_._2).sorted.toSeq
      // ties at the cut may legitimately swap; everything above it may not
      val cut = if (scores.isEmpty) 0.0 else scores.head
      (scores, scored.filter(_._2 > cut).toSet)
    }
    val checkBm25 = strs("check_bm25")
    val checkPhrase = strs("check_phrase")
    for ((kind, qs) <- Seq("bm25" -> checkBm25, "phrase" -> checkPhrase); q <- qs) {
      val a = answers(lexDir, kind, q)
      val b = answers(fresh, kind, q)
      if (a != b) failures.add(s"$kind '$q' after CDC diverged from a fresh build: $a vs $b")
    }
    val vecs = spark.read.parquet(embFile).collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Seq[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val recalls = probes.toSeq.map { case (pid, v) =>
      val truth = vecs.map { case (id, x) => (id, cos(x, v)) }.sortBy(t => (-t._2, t._1)).take(K).map(_._1).toSet
      val got = AnnIndex.topK(Seq((pid, v)).toDF("vec_id", "embedding"), "vec_id", "embedding", annDir,
        k = K, nProbe = 4).collect().map(_.getAs[Long]("neighbor_id")).toSet
      (truth intersect got).size.toDouble / K
    }
    val recall = recalls.sum / recalls.size
    val minRecall = Json.num(meta("min_recall"))
    if (recall < minRecall) failures.add(f"ANN recall@$K $recall%.3f below $minRecall")

    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      def med(name: String, k: String) = Stats.median(Trace.named(name).map(_.count(k)))
      def medS(name: String) = Stats.median(Trace.named(name).map(_.seconds))
      val serves = Seq("bm25", "phrase", "ann").flatMap(k => Trace.named(s"operators.$k"))
      val cdc = Trace.named("operators.apply_cdc")
      Map(
        "operators.bm25_s" -> medS("operators.bm25"),
        "operators.bm25_jobs" -> med("operators.bm25", "jobs"),
        "operators.phrase_s" -> medS("operators.phrase"),
        "operators.phrase_jobs" -> med("operators.phrase", "jobs"),
        "operators.ann_s" -> medS("operators.ann"),
        "operators.ann_jobs" -> med("operators.ann", "jobs"),
        "operators.serve_rows_per_result" -> serves.map(_.count("input_records")).sum /
          math.max(1.0, serves.map(_.count("result_rows")).sum),
        "operators.index_files_live" -> InvertedIndex.currentManifest(spark, lexDir).postings.size.toDouble,
        "operators.serve_sched_wait_s" -> Stats.median(serves.map(_.count("sched_wait_s"))),
        "operators.apply_cdc_s" -> medS("operators.apply_cdc"),
        "operators.apply_cdc_jobs" -> med("operators.apply_cdc", "jobs"),
        "operators.apply_cdc_attempts_per_commit" -> med("operators.apply_cdc", "versions_claimed"),
        "trace.overhead_frac" -> (Stats.median(tracedMs.asScala.toSeq) / Stats.median(untracedMs.asScala.toSeq) - 1),
        "trace.coverage" -> serves.map(_.seconds).sum / math.max(1e-9, tracedMs.asScala.sum / 1000))
    }
    val allServes = serveMs.asScala.toSeq
    Outcome(
      setupS = ctx.sessionS + Stats.median(builds),
      commitS = (commitS ++ commitTraced).toSeq, rowsCommitted = rows, bytesWritten = written,
      inputBytes = inBytes, storedBytes = Disk.dirBytes(lexDir), liveBytes = Disk.parquetBytes(finalDir),
      readS = readFirst.toSeq, serveMs = allServes, serveWallS = wall,
      attempted = allServes.size.toLong + applied - 1, failures = failures.asScala.toSeq,
      traffic = Map("serves" -> allServes.size, "commits" -> (applied - 1), "warmup_s" -> warmS,
        "readers" -> readers.size, "serves_per_write" -> servesPerWrite,
        "serve_mix" -> kindCount.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "ann_recall" -> recall, "setup_build_s" -> builds),
      layers = layers,
      exports = Map.empty)
  }
}
