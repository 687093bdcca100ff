package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.{LocalCheckpointFileManager, NioRawLocalFileSystem, Stateful, Watermark, Windows}

/** Streaming checkpoints on a `file:` path through graft's checkpoint file
  * manager ([[Sessions.checkpointFiles]]): restarts resume exactly, the
  * files keep the modes and `.crc` checksums Spark's default manager
  * writes, a corrupted offset file fails the restart, and the atomic-write
  * contract holds. */
class LocalCheckpointFilesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The manager Spark picks for a local path with graft's conf removed. */
  private lazy val defaultManager: String = {
    val c = spark.sessionState.newHadoopConf()
    c.unset(Sessions.checkpointFiles._1)
    CheckpointFileManager.create(new Path(tmp("graft_cfm")), c).getClass.getName
  }

  /** A session on the same context that writes checkpoints through Spark's
    * default manager. */
  private lazy val defaultSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set(Sessions.checkpointFiles._1, defaultManager)
    s
  }

  /** Events of a tumble stream: batch b holds six rows at 10:0b. */
  private val tumbleBatches: Seq[Seq[(Timestamp, String, Double)]] = (0 until 5).map { b =>
    (0 until 6).map(i => (ts(f"2024-01-01 10:0$b:${i * 7}%02d"), Seq("click", "view")(i % 2), b * 10.0 + i))
  }

  /** Funnel events: each user clicks in one batch and buys in a later one. */
  private val funnelBatches: Seq[Seq[(Long, String, Timestamp)]] = (0 until 5).map { b =>
    (0L until 4L).flatMap { u =>
      val t = ts(f"2024-01-01 10:0$b:${u * 5}%02d")
      if ((u + b) % 2 == 0) Seq((u, "click", t)) else Seq((u, "purchase", t), (u + 10, "view", t))
    }
  }

  private def tumble(src: DataFrame): DataFrame =
    Windows.tumble(Windows.withWatermark(src.toDF("ts", "event_type", "value"), Watermark("ts", "1 minute")),
      col("ts"), "1 minute", Seq(col("event_type")), Seq(count(lit(1)).as("n"), sum(col("value")).as("sv")))

  private def funnel(src: DataFrame): DataFrame =
    Stateful.funnelPairs(Windows.withWatermark(src.toDF("user_id", "event_type", "t"), Watermark("t", "1 minute")),
      "user_id", "event_type", "t", "click", "purchase", "2 minutes")

  /** Each batch's output (sorted rows) by batch id, for `batches` fed one
    * micro-batch at a time into `plan`; the query is stopped and restarted
    * from its checkpoint after each batch index in `stopAfter`. */
  private def perBatch[A: Encoder](batches: Seq[Seq[A]], stopAfter: Set[Int], mode: String,
      ckpt: String = tmp("graft_ckpt"), session: SparkSession = spark)(
      plan: DataFrame => DataFrame): Map[Long, Seq[String]] = {
    val input = MemoryStream[A](implicitly[Encoder[A]], session.sqlContext)
    val out = plan(input.toDF())
    val got = new ConcurrentHashMap[Long, Seq[String]]()
    val deliver: (DataFrame, Long) => Unit =
      (df, id) => got.put(id, df.collect().map(_.toString).sorted.toSeq)
    def start() = out.writeStream.outputMode(mode).option("checkpointLocation", ckpt)
      .foreachBatch(deliver).start()
    var q = start()
    try batches.zipWithIndex.foreach { case (b, i) =>
      input.addData(b)
      q.processAllAvailable()
      if (stopAfter(i)) { q.stop(); q = start() }
    } finally q.stop()
    got.asScala.toMap
  }

  test("tumble and funnel streams restarted from their checkpoints match an uninterrupted run") {
    val tumbleWhole = perBatch(tumbleBatches, Set.empty, "update")(tumble)
    assert(tumbleWhole.values.count(_.nonEmpty) >= 5, tumbleWhole)
    assert(perBatch(tumbleBatches, Set(1), "update")(tumble) == tumbleWhole)
    assert(perBatch(tumbleBatches, Set(0, 2, 3), "update")(tumble) == tumbleWhole)

    val funnelWhole = perBatch(funnelBatches, Set.empty, "append")(funnel)
    assert(funnelWhole.values.map(_.size).sum >= 4, funnelWhole)
    assert(perBatch(funnelBatches, Set(1), "append")(funnel) == funnelWhole)
    assert(perBatch(funnelBatches, Set(0, 2, 3), "append")(funnel) == funnelWhole)
  }

  /** POSIX mode of every offset, commit and state delta file (with its
    * `.crc`) under `ckpt`, by path relative to it. */
  private def checkpointModes(ckpt: String): Map[String, String] = {
    val root = new File(ckpt).toPath
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(root.relativize)
      .filter { r =>
        val n = r.getFileName.toString
        Seq("offsets", "commits").contains(r.getName(0).toString) || n.matches("\\.?\\d+\\.delta(\\.crc)?")
      }
      .map(r => r.toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(root.resolve(r))))
      .toMap
  }

  test("a local checkpoint's files keep the default manager's modes and .crc siblings") {
    val probe = new Path(tmp("graft_cfm"))
    assert(CheckpointFileManager.create(probe, spark.sessionState.newHadoopConf())
      .isInstanceOf[LocalCheckpointFileManager])
    assert(defaultManager != classOf[LocalCheckpointFileManager].getName)
    assert(CheckpointFileManager.create(probe, defaultSession.sessionState.newHadoopConf())
      .getClass.getName == defaultManager)

    val graftCkpt = tmp("graft_ckpt")
    val defaultCkpt = tmp("graft_ckpt_default")
    val out = perBatch(tumbleBatches.take(3), Set.empty, "update", graftCkpt)(tumble)
    assert(perBatch(tumbleBatches.take(3), Set.empty, "update", defaultCkpt, defaultSession)(tumble) == out)
    val modes = checkpointModes(graftCkpt)
    assert(modes == checkpointModes(defaultCkpt))
    val files = modes.keys.filterNot(_.endsWith(".crc")).toSeq
    assert(files.exists(_.startsWith("offsets/")) && files.exists(_.startsWith("commits/")) &&
      files.exists(_.endsWith(".delta")), modes)
    files.foreach { f =>
      val p = new File(f)
      assert(modes.contains(new File(p.getParent, s".${p.getName}.crc").getPath), s"$f has no .crc")
    }
  }

  test("a flipped byte in offsets/0 fails the restart with a ChecksumException") {
    // Spark's default manager reads local checkpoints through Hadoop's
    // FileContext, whose local file system (Hadoop 3.4) writes `.crc`
    // files but does not check them on open: it restarts from the
    // corrupted file. graft's manager reads through the checksummed
    // LocalFileSystem, which does.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("graft_ckpt_flip")
    perBatch(tumbleBatches.take(1), Set.empty, "update", ckpt)(tumble)
    val offsets = new File(ckpt, "offsets/0").toPath
    val bytes = Files.readAllBytes(offsets)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(offsets, bytes)
    val restart = tumble(MemoryStream[(Timestamp, String, Double)].toDF())
      .writeStream.outputMode("update").option("checkpointLocation", ckpt).format("noop").start()
    val e = try intercept[StreamingQueryException](restart.awaitTermination(60000)) finally restart.stop()
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("setPermission sets the forked chmod's modes; a sticky bit takes Hadoop's own path") {
    def fs(raw: RawLocalFileSystem) = { raw.initialize(URI.create("file:///"), new Configuration()); raw }
    val forked = fs(new RawLocalFileSystem)
    val nio = fs(new NioRawLocalFileSystem)
    val dir = tmp("graft_perm")
    def perms(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    for (mode <- Seq("644", "600", "755", "700")) {
      val a = Files.createFile(new File(dir, s"forked$mode").toPath)
      val b = Files.createFile(new File(dir, s"nio$mode").toPath)
      Files.setPosixFilePermissions(b, PosixFilePermissions.fromString("---------"))
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      forked.setPermission(new Path(a.toUri), perm)
      nio.setPermission(new Path(b.toUri), perm)
      assert(perms(b) == perms(a) && perms(a) == perm.toString, mode)
    }
    val sticky = Files.createDirectory(new File(dir, "sticky").toPath)
    nio.setPermission(new Path(sticky.toUri), new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert((Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int] & 0xfff) == Integer.parseInt("1755", 8))
  }

  test("createAtomic refuses to replace a file without overwrite; cancel leaves nothing behind") {
    val dir = tmp("graft_atomic")
    val fm = CheckpointFileManager.create(new Path(dir), spark.sessionState.newHadoopConf())
    val p = new Path(dir, "0")
    val first = fm.createAtomic(p, overwriteIfPossible = false)
    first.write(1)
    first.close()
    intercept[FileAlreadyExistsException] {
      val again = fm.createAtomic(p, overwriteIfPossible = false)
      again.write(2)
      again.close()
    }
    assert(Files.readAllBytes(new File(dir, "0").toPath).toSeq == Seq[Byte](1))

    val dir2 = tmp("graft_atomic_cancel")
    val out = CheckpointFileManager.create(new Path(dir2), spark.sessionState.newHadoopConf())
      .createAtomic(new Path(dir2, "0"), overwriteIfPossible = true)
    out.write(3)
    out.cancel()
    assert(Option(new File(dir2).list()).getOrElse(Array.empty[String]).isEmpty)
  }
}
