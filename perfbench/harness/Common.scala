package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JSON in and out (Jackson with its Scala module, from Spark's jars):
  * the generator's meta file, the outcome and the span file. Numbers read
  * back as `java.lang.Number`, arrays as `Seq`, objects as `Map`.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(s: String): Map[String, Any] = mapper.readValue(s, classOf[Map[String, Any]])
  def num(v: Any): Double = v.asInstanceOf[Number].doubleValue
  def seq(v: Any): Seq[Any] = v.asInstanceOf[Seq[Any]]
}

/** Local-disk observables: bytes the JVM wrote through Hadoop's local
  * file system (every parquet, manifest and checkpoint write of the
  * program), and on-disk directory sizes.
  */
object Disk {
  def bytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    val root = new File(dir)
    if (root.exists()) walk(root) else 0L
  }

  /** Parquet data bytes under `dir` (no checksums or metadata). */
  def parquetBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length() else 0L }
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new File(dir))
  }

  /** Land a copy of `src` in `dir` with the given mtime: staged under a
    * hidden name (which listings skip), then renamed into place.
    */
  def land(src: String, dir: String, mtimeMs: Long): Long = {
    new File(dir).mkdirs()
    val name = new File(src).getName
    val tmp = Paths.get(dir, s".$name.landing")
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    tmp.toFile.setLastModified(mtimeMs)
    val dst = Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    dst.toFile.setLastModified(mtimeMs)
    dst.toFile.length()
  }

  def delete(dir: String): Unit = {
    def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
    rm(new File(dir))
  }

  def readString(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  def writeString(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}

/** Median; NaN for no samples. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}

/** What one workload run hands back to the runner. `commitS`, `readS`
  * (the first read of each new commit) and `serveMs` (search_mixed's
  * serves) are per-request samples; the rest are totals.
  */
final case class Outcome(
    setupS: Double,
    commitS: Seq[Double],
    rowsCommitted: Long,
    bytesWritten: Long,
    inputBytes: Long,
    storedBytes: Long,
    liveBytes: Long,
    readS: Seq[Double],
    serveMs: Seq[Double],
    serveWallS: Double,
    attempted: Long,
    failures: Seq[String],
    traffic: Map[String, Any],
    layers: Map[String, Double],
    exports: Map[String, String])

/** Run parameters and the session every workload shares. */
final case class Ctx(
    spark: SparkSession, workload: String, inputs: String, work: String,
    seconds: Double, traced: Boolean, cores: Int, sessionS: Double) {
  @volatile private var deadlineNs = Long.MaxValue
  /** Start the measured window (after setup and warm-up). */
  def startClock(): Unit = deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
  def timeLeft: Boolean = System.nanoTime() < deadlineNs
  lazy val meta: Map[String, Any] = Json.read(Disk.readString(s"$inputs/meta.json"))
}

/** Wall time of `body` in seconds. */
object Clock {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }
}
