package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's inputs. The snapshot tables are the repository's
  * sf0.01 reference dataset, kept under `data/sf0.01` of the benchmark
  * directory (one parquet file per table; the DuckDB oracle and the
  * tests use the same data). The ingest stream's event files are
  * generated from a `SplittableRandom` seed with the events table's
  * schema, so the same seed writes the same rows.
  */
object Data {
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")
  /** The reference events end on 2024-01-30; streamed files follow them. */
  private val StreamStart = LocalDateTime.of(2024, 1, 31, 0, 0)
  /** The reference events' users are 0 until 150. */
  private val Users = 150

  def reference(benchDir: Path): Path = benchDir.resolve("data/sf0.01")

  /** A writable copy of the reference snapshot at `dir`, with the events
    * table as a directory (`events.parquet/`) that batches can be
    * appended to; the engine reads a table directory like a file.
    */
  def copySnapshot(from: Path, dir: Path, eventFiles: Seq[Path] = Nil): Path = {
    Files.createDirectories(dir.resolve("events.parquet"))
    Tables.filter(_ != "events").foreach(t =>
      Files.copy(from.resolve(s"$t.parquet"), dir.resolve(s"$t.parquet")))
    (from.resolve("events.parquet") +: eventFiles).zipWithIndex.foreach { case (f, i) =>
      Files.copy(f, dir.resolve(f"events.parquet/part-$i%05d.parquet"))
    }
    dir
  }

  /** Move `file` into a snapshot's events directory as its `i`-th file. */
  def appendEvents(dir: Path, file: Path, i: Int): Path =
    Files.move(file, dir.resolve(f"events.parquet/part-$i%05d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)

  /** Write `rows` as ONE parquet file at `dir/name.parquet`. */
  def writeTable(spark: SparkSession, dir: Path, name: String,
      schema: StructType, rows: Seq[Row]): Path = {
    val tmp = dir.resolve(s"_tmp_$name")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val out = dir.resolve(s"$name.parquet")
    Files.move(part, out)
    deleteTree(tmp)
    out
  }

  /** Write each table as one parquet file under `dir`, one per core at a time. */
  def writeTables(spark: SparkSession, dir: Path,
      tables: Seq[(String, StructType, Seq[Row])]): Unit = {
    Files.createDirectories(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    try tables.map { case (name, schema, rows) =>
      pool.submit(() => writeTable(spark, dir, name, schema, rows))
    }.foreach(_.get())
    finally pool.shutdown()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }

  /** Zipf(s) sampler over ranks 0 until n (inverse CDF on a table). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: java.util.SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** `n` event rows with ids from `firstId`, timestamps in
    * [start, start + spanSec). Users are Zipf-skewed; `dupShare` of the
    * rows repeat an earlier row's (user_id, ts), `lateShare` land one to
    * three hours before `start`, and `badPropsShare` carry null or
    * malformed props.
    */
  def events(r: java.util.SplittableRandom, firstId: Long, n: Int,
      start: LocalDateTime, spanSec: Long, users: Zipf,
      dupShare: Double, lateShare: Double, badPropsShare: Double): Seq[Row] = {
    val out = new mutable.ArrayBuffer[Row](n)
    (0 until n).foreach { i =>
      val u = r.nextDouble()
      val (user, ts) =
        if (out.nonEmpty && u < dupShare) {
          val prev = out(r.nextInt(out.size))
          (prev.getLong(2), prev.get(1).asInstanceOf[LocalDateTime])
        } else {
          val off = (r.nextDouble() * spanSec * 1e6).toLong
          val late = if (u < dupShare + lateShare) (1 + r.nextInt(3)) * 3600L * 1000000L else 0L
          (users.sample(r).toLong, start.plusNanos((off - late) * 1000L))
        }
      val tpe = EventTypes(r.nextInt(EventTypes.length))
      val value = math.round(-math.log(1 - r.nextDouble()) * 50 * 100) / 100.0
      val b = r.nextDouble()
      val props =
        if (b < badPropsShare / 2) null
        else if (b < badPropsShare) "{\"k\": oops"
        else s"""{"k": ${r.nextInt(100)}}"""
      out += Row(firstId + i, ts, user, tpe, value, props)
    }
    out.toSeq
  }

  /** Hourly event files for the ingest stream: file `i` covers hour `i`
    * after the reference events end, with event ids after theirs.
    */
  def eventFile(seed: Long, i: Int, rows: Int): Seq[Row] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + i)
    events(r, 1000000L + i.toLong * rows, rows, StreamStart.plusHours(i.toLong), 3600L,
      zipf, dupShare = 0.02, lateShare = 0.01, badPropsShare = 0.01)
  }
  private lazy val zipf = new Zipf(Users, 1.1)
}
