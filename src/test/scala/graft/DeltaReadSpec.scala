package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.DeltaRead

/** Native Delta read: the transaction log is crafted here byte-for-byte
  * per the PUBLIC protocol (delta.io PROTOCOL.md) — add/remove replay,
  * schema from metaData, time travel, checkpoints, partition dirs, and
  * the clear failure on reader features v1 does not cover. */
class DeltaReadSpec extends SparkSpec {
  import spark.implicits._

  private def writePart(table: File, name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = Files.createTempDirectory("graft_delta_part").toFile
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new File(table, name)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
  }

  private def writeCommit(table: File, version: Long, lines: Seq[String]): Unit = {
    val log = new File(table, "_delta_log")
    log.mkdirs()
    Files.write(new File(log, f"$version%020d.json").toPath,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  test("log replay: adds, removes, schema, time travel") {
    val table = Files.createTempDirectory("graft_delta").toFile
    val schema = Seq((1L, "a")).toDF("id", "s").schema
    val schemaJson = schema.json.replace("\"", "\\\"")
    writePart(table, "part-1.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    writePart(table, "part-2.parquet", Seq((3L, "c")).toDF("id", "s"))
    writePart(table, "part-3.parquet", Seq((4L, "d")).toDF("id", "s"))
    writeCommit(table, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"part-1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"part-2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeCommit(table, 1L, Seq(
      """{"remove":{"path":"part-1.parquet","deletionTimestamp":2,"dataChange":true}}""",
      """{"add":{"path":"part-3.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))

    val latest = DeltaRead.readDelta(spark, table.getAbsolutePath)
    assert(latest.columns.toSeq == Seq("id", "s"))
    assert(latest.as[(Long, String)].collect().toSet == Set((3L, "c"), (4L, "d")))
    // time travel to version 0
    val v0 = DeltaRead.readDelta(spark, table.getAbsolutePath, asOfVersion = Some(0L))
    assert(v0.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the Table API surface
    assert(graft.api.Table.readDelta(spark, table.getAbsolutePath).df.count() == 2)
  }

  test("partitioned table keeps partition columns via hive-style dirs") {
    val table = Files.createTempDirectory("graft_delta_p").toFile
    val full = Seq((1L, "x", "en"), (2L, "y", "de")).toDF("id", "s", "lang")
    val schemaJson = full.schema.json.replace("\"", "\\\"")
    writePart(table, "lang=en/part-1.parquet",
      Seq((1L, "x")).toDF("id", "s"))
    writePart(table, "lang=de/part-2.parquet",
      Seq((2L, "y")).toDF("id", "s"))
    writeCommit(table, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["lang"],"configuration":{}}}""",
      """{"add":{"path":"lang=en/part-1.parquet","partitionValues":{"lang":"en"},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"lang=de/part-2.parquet","partitionValues":{"lang":"de"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val out = DeltaRead.readDelta(spark, table.getAbsolutePath)
    assert(out.columns.toSeq == Seq("id", "s", "lang"))
    assert(out.select("id", "lang").as[(Long, String)].collect().toSet ==
      Set((1L, "en"), (2L, "de")))
    // partition pruning reaches the scan
    val pruned = out.filter(col("lang") === "en")
    assert(pruned.count() == 1)
  }

  test("checkpoint parquet replaces the JSON prefix") {
    val table = Files.createTempDirectory("graft_delta_c").toFile
    val schema = Seq((1L, "a")).toDF("id", "s").schema
    val schemaJson = schema.json.replace("\"", "\\\"")
    writePart(table, "part-1.parquet", Seq((1L, "a")).toDF("id", "s"))
    writePart(table, "part-2.parquet", Seq((2L, "b")).toDF("id", "s"))
    // version 0 json is MISSING (aged out) — only the checkpoint covers it
    val log = new File(table, "_delta_log"); log.mkdirs()
    // build the checkpoint as a parquet of action structs via spark.read.json
    val cpJson = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"part-1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""").toDS
    val tmp = Files.createTempDirectory("graft_cp").toFile
    spark.read.json(cpJson).coalesce(1).write.mode("overwrite")
      .parquet(tmp.getAbsolutePath)
    val cpPart = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(cpPart.toPath, new File(log, f"${0L}%020d.checkpoint.parquet").toPath)
    writeCommit(table, 1L, Seq(
      """{"add":{"path":"part-2.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    val out = DeltaRead.readDelta(spark, table.getAbsolutePath)
    assert(out.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("toDelta/readDelta round trip: overwrite history, append, time travel") {
    import org.apache.spark.sql.SaveMode
    val table = Files.createTempDirectory("graft_delta_w").toFile.getAbsolutePath
    val t1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val v0 = graft.api.Table(t1).toDelta(table)
    assert(v0 == 0L)
    // append
    val v1 = graft.api.Table(Seq((3L, "c")).toDF("id", "s")).toDelta(table, SaveMode.Append)
    assert(v1 == 1L)
    assert(DeltaRead.readDelta(spark, table).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // overwrite logically removes all prior files
    val v2 = graft.api.Table(Seq((9L, "z")).toDF("id", "s")).toDelta(table)
    assert(v2 == 2L)
    assert(DeltaRead.readDelta(spark, table).as[(Long, String)].collect().toSet ==
      Set((9L, "z")))
    // history is still readable: version 1 sees the pre-overwrite state
    assert(DeltaRead.readDelta(spark, table, asOfVersion = Some(1L))
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // put-if-absent: a forged competing commit at the next version makes
    // the writer fail loudly instead of silently replacing it
    val log = new File(table, "_delta_log")
    Files.write(new File(log, f"${3L}%020d.json").toPath,
      """{"add":{"path":"competing.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""".getBytes)
    // the writer sees version 3 taken and commits as version 4 — but if we
    // force the collision by removing it from the listing race, the hard
    // link contract is what guards; assert the NEXT write lands at 4
    val v4 = graft.api.Table(Seq((10L, "w")).toDF("id", "s")).toDelta(table, SaveMode.Append)
    assert(v4 == 4L)
  }

  test("partition values come from the add actions — non-hive file layout reads correctly") {
    // PROTOCOL.md: partitionValues is authoritative; directory naming is
    // only a convention. Files at the table ROOT with partitionValues set
    // must still read with correct partition columns.
    val table = Files.createTempDirectory("graft_delta_nh").toFile
    val full = Seq((1L, "x", "en")).toDF("id", "s", "lang")
    val schemaJson = full.schema.json.replace("\"", "\\\"")
    writePart(table, "flat-1.parquet", Seq((1L, "x")).toDF("id", "s"))
    writePart(table, "flat-2.parquet", Seq((2L, "y")).toDF("id", "s"))
    writeCommit(table, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["lang"],"configuration":{}}}""",
      """{"add":{"path":"flat-1.parquet","partitionValues":{"lang":"en"},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"flat-2.parquet","partitionValues":{"lang":"de"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val out = DeltaRead.readDelta(spark, table.getAbsolutePath)
    assert(out.select("id", "lang").as[(Long, String)].collect().toSet ==
      Set((1L, "en"), (2L, "de")))
  }

  test("time travel to a nonexistent version errors instead of clamping") {
    val table = Files.createTempDirectory("graft_delta_tt").toFile.getAbsolutePath
    graft.api.Table(Seq((1L, "a")).toDF("id", "s")).toDelta(table)
    val ex = intercept[IllegalArgumentException] {
      DeltaRead.readDelta(spark, table, asOfVersion = Some(99L))
    }
    assert(ex.getMessage.contains("no version 99"))
  }

  test("non-contiguous log (aged-out prefix, no checkpoint) errors instead of partial data") {
    val table = Files.createTempDirectory("graft_delta_gap").toFile
    val schemaJson = Seq((1L, "a")).toDF("id", "s").schema.json.replace("\"", "\\\"")
    writePart(table, "part-5.parquet", Seq((5L, "e")).toDF("id", "s"))
    // only version 5 survives — 0..4 aged out with no checkpoint
    writeCommit(table, 5L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"part-5.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val ex = intercept[IllegalArgumentException] {
      DeltaRead.readDelta(spark, table.getAbsolutePath)
    }
    assert(ex.getMessage.contains("not contiguous"))
  }

  test("append with a mismatched schema fails; checkpoint-only tables keep version counting") {
    import org.apache.spark.sql.SaveMode
    val table = Files.createTempDirectory("graft_delta_sv").toFile
    graft.api.Table(Seq((1L, "a")).toDF("id", "s")).toDelta(table.getAbsolutePath)
    val ex = intercept[IllegalArgumentException] {
      graft.api.Table(Seq((1, 2.0)).toDF("a", "b"))
        .toDelta(table.getAbsolutePath, SaveMode.Append)
    }
    assert(ex.getMessage.contains("does not match"))
    // collapse the log to a checkpoint ONLY (json aged out): the next
    // write must count from the checkpoint version, not restart at 0
    val log = new File(table, "_delta_log")
    val cpJson = spark.read.json(
      new File(log, f"${0L}%020d.json").getAbsolutePath)
    val tmp = Files.createTempDirectory("graft_cp2").toFile
    cpJson.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    Files.move(tmp.listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
      new File(log, f"${0L}%020d.checkpoint.parquet").toPath)
    new File(log, f"${0L}%020d.json").delete()
    val v1 = graft.api.Table(Seq((2L, "b")).toDF("id", "s"))
      .toDelta(table.getAbsolutePath, SaveMode.Append)
    assert(v1 == 1L)
    assert(DeltaRead.readDelta(spark, table.getAbsolutePath)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("checkpoint() collapses history; aged-out prefix then reads fine") {
    import org.apache.spark.sql.SaveMode
    val table = Files.createTempDirectory("graft_delta_ckpt").toFile
    graft.api.Table(Seq((1L, "a")).toDF("id", "s")).toDelta(table.getAbsolutePath)
    graft.api.Table(Seq((2L, "b")).toDF("id", "s"))
      .toDelta(table.getAbsolutePath, SaveMode.Append)
    val cv = graft.sources.DeltaWrite.checkpoint(spark, table.getAbsolutePath)
    assert(cv == 1L)
    // age out ALL the json prefix — the checkpoint alone must carry state
    val log = new File(table, "_delta_log")
    new File(log, f"${0L}%020d.json").delete()
    new File(log, f"${1L}%020d.json").delete()
    assert(DeltaRead.readDelta(spark, table.getAbsolutePath)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // and writing continues from the checkpointed version
    val v2 = graft.api.Table(Seq((3L, "c")).toDF("id", "s"))
      .toDelta(table.getAbsolutePath, SaveMode.Append)
    assert(v2 == 2L)
    assert(DeltaRead.readDelta(spark, table.getAbsolutePath).count() == 3)
  }

  test("vacuum deletes only unreferenced files past retention; table keeps reading") {
    import org.apache.spark.sql.SaveMode
    val table = Files.createTempDirectory("graft_delta_vac").toFile
    graft.api.Table(Seq((1L, "a")).toDF("id", "s")).toDelta(table.getAbsolutePath)
    graft.api.Table(Seq((2L, "b")).toDF("id", "s")).toDelta(table.getAbsolutePath) // orphans v0 files
    val parquetsBefore = Option(table.listFiles()).get.count(_.getName.endsWith(".parquet"))
    assert(parquetsBefore == 2)
    // default retention protects the fresh orphan
    assert(graft.sources.DeltaWrite.vacuum(spark, table.getAbsolutePath).isEmpty)
    // retention 0 removes it
    val deleted = graft.sources.DeltaWrite.vacuum(spark, table.getAbsolutePath, retentionMs = 0L)
    assert(deleted.size == 1)
    assert(DeltaRead.readDelta(spark, table.getAbsolutePath)
      .as[(Long, String)].collect().toSet == Set((2L, "b")))
  }

  test("partitioned toDelta: hive dirs + partitionValues round trip, nulls and special chars") {
    import org.apache.spark.sql.SaveMode
    val table = Files.createTempDirectory("graft_delta_pw").toFile.getAbsolutePath
    val df = Seq((1L, "a", "en"), (2L, "b", "de"), (3L, "c", null.asInstanceOf[String]),
      (4L, "d", "zh:Hans x")).toDF("id", "s", "lang")
    val v0 = graft.api.Table(df).toDelta(table, partitionBy = Seq("lang"))
    assert(v0 == 0L)
    val back = DeltaRead.readDelta(spark, table)
    assert(back.columns.toSeq == Seq("id", "s", "lang"))
    assert(back.select("id", "lang").as[(Long, String)].collect().toSet ==
      Set((1L, "en"), (2L, "de"), (3L, null), (4L, "zh:Hans x")))
    // the layout is really hive-style: data files live under col= dirs and
    // physically EXCLUDE the partition column
    val enDir = new File(table, "lang=en")
    assert(enDir.isDirectory && enDir.listFiles().exists(_.getName.endsWith(".parquet")))
    val enFile = enDir.listFiles().find(_.getName.endsWith(".parquet")).get
    assert(!spark.read.parquet(enFile.getAbsolutePath).columns.contains("lang"))
    // append with matching partitioning lands as v1; mismatch is refused
    val v1 = graft.api.Table(Seq((5L, "e", "en")).toDF("id", "s", "lang"))
      .toDelta(table, SaveMode.Append, partitionBy = Seq("lang"))
    assert(v1 == 1L)
    assert(DeltaRead.readDelta(spark, table).count() == 5)
    val ex = intercept[IllegalArgumentException] {
      graft.api.Table(Seq((6L, "f", "en")).toDF("id", "s", "lang"))
        .toDelta(table, SaveMode.Append)
    }
    assert(ex.getMessage.contains("partitioning"))
    assert(DeltaRead.readDelta(spark, table).filter(col("lang") === "en").count() == 2)
  }

  test("partitioned table: overwrite re-partitions, checkpoint and vacuum keep it readable") {
    val table = Files.createTempDirectory("graft_delta_pw2").toFile
    val path = table.getAbsolutePath
    graft.api.Table(Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "s", "k"))
      .toDelta(path, partitionBy = Seq("k"))
    // overwrite switching to UNpartitioned updates metaData
    graft.api.Table(Seq((3L, "c", 2)).toDF("id", "s", "k")).toDelta(path)
    assert(DeltaRead.readDelta(spark, path).select("id").as[Long].collect().toSet == Set(3L))
    // time travel back to the partitioned v0 (int partition col cast back)
    assert(DeltaRead.readDelta(spark, path, asOfVersion = Some(0L))
      .select("id", "k").as[(Long, Int)].collect().toSet == Set((1L, 0), (2L, 1)))
    // back to partitioned; checkpoint; age out the whole json prefix
    graft.api.Table(Seq((4L, "d", 7), (5L, "e", 8)).toDF("id", "s", "k"))
      .toDelta(path, partitionBy = Seq("k"))
    val cv = graft.sources.DeltaWrite.checkpoint(spark, path)
    assert(cv == 2L)
    val log = new File(table, "_delta_log")
    (0L to 2L).foreach(v => new File(log, f"$v%020d.json").delete())
    assert(DeltaRead.readDelta(spark, path)
      .select("id", "k").as[(Long, Int)].collect().toSet == Set((4L, 7), (5L, 8)))
    // vacuum removes the orphaned earlier files living in partition subdirs
    val deleted = graft.sources.DeltaWrite.vacuum(spark, path, retentionMs = 0L)
    assert(deleted.nonEmpty)
    assert(DeltaRead.readDelta(spark, path).count() == 2)
  }

  test("unsupported reader versions/features fail clearly, not wrongly") {
    val table = Files.createTempDirectory("graft_delta_v3").toFile
    val schemaJson = Seq((1L, "a")).toDF("id", "s").schema.json.replace("\"", "\\\"")
    writeCommit(table, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint","deletionVectors"]}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}"""))
    val ex = intercept[IllegalArgumentException] {
      DeltaRead.readDelta(spark, table.getAbsolutePath)
    }
    assert(ex.getMessage.contains("v2Checkpoint"))
    assert(!ex.getMessage.contains("deletionVectors")) // the supported one isn't blamed
    val table4 = Files.createTempDirectory("graft_delta_v4").toFile
    writeCommit(table4, 0L, Seq(
      """{"protocol":{"minReaderVersion":4,"minWriterVersion":7}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}"""))
    val ex4 = intercept[IllegalArgumentException] {
      DeltaRead.readDelta(spark, table4.getAbsolutePath)
    }
    assert(ex4.getMessage.contains("minReaderVersion=4"))
    // not a delta table at all
    val plain = Files.createTempDirectory("graft_plain").toFile
    val ex2 = intercept[IllegalArgumentException] {
      DeltaRead.readDelta(spark, plain.getAbsolutePath)
    }
    assert(ex2.getMessage.contains("_delta_log"))
  }

  test("DV codec goldens: z85 reference vector, hand-built portable roaring bytes") {
    import graft.sources.DeletionVectors
    // the ZeroMQ Z85 reference test vector
    assert(DeletionVectors.z85Decode("HelloWorld").toSeq ==
      Seq(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte))
    assert(DeletionVectors.z85Encode(
      Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)) == "HelloWorld")
    // portable RoaringBitmapArray for {1,3}: LE magic, then the
    // RoaringFormatSpec 64-bit layout — 1 bitmap, its int32 key, the
    // no-run cookie, 1 array container (key 0, card 2), offset, values
    val golden = Array[Int](
      0xd1, 0xd3, 0x39, 0x64,             // magic 1681511377 LE
      1, 0, 0, 0, 0, 0, 0, 0,             // int64 bitmap count = 1
      0, 0, 0, 0,                         // int32 key of the bitmap = 0
      0x3a, 0x30, 0, 0,                   // cookie 12346 LE
      1, 0, 0, 0,                         // container count 1
      0, 0, 1, 0,                         // key=0, cardinality-1=1
      16, 0, 0, 0,                        // offset of container data
      1, 0, 3, 0                          // values 1, 3
    ).map(_.toByte)
    assert(golden.length == 36)
    assert(DeletionVectors.deserialize(golden).toSeq == Seq(1L, 3L))
    // our serializer emits byte-identical output for the same set
    assert(DeletionVectors.serialize(Array(1L, 3L)).toSeq == golden.toSeq)
    // run-container decode (cookie 12347): runs [5..8] and [100..101]
    val runGolden = Array[Int](
      0xd1, 0xd3, 0x39, 0x64, 1, 0, 0, 0, 0, 0, 0, 0,
      0, 0, 0, 0,                         // int32 key of the bitmap = 0
      0x3b, 0x30, 0, 0,                   // cookie 12347, (size-1)=0 in high 16
      1,                                   // run-flag bitset: container 0 is runs
      0, 0, 5, 0,                         // key=0, cardinality-1=5 (6 values)
      2, 0,                               // 2 runs (no offsets: size < 4)
      5, 0, 3, 0,                         // start 5, len-1 3 → 5..8
      100, 0, 1, 0                        // start 100, len-1 1 → 100..101
    ).map(_.toByte)
    assert(DeletionVectors.deserialize(runGolden).toSeq ==
      Seq(5L, 6L, 7L, 8L, 100L, 101L))
    // big sets round-trip through the bitmap-container path, and the
    // 64-bit split works (values above 2^32)
    val big = (0L until 5000L).map(_ * 2).toArray ++ Array((1L << 32) + 7L)
    assert(DeletionVectors.deserialize(DeletionVectors.serialize(big)).toSeq == big.toSeq)
  }

  /** The Delta DV bitmap as the RoaringBitmap library writes it: the
    * LE magic, then `serializePortable`. */
  private def libraryBytes(m: org.roaringbitmap.longlong.Roaring64NavigableMap): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(buf)
    out.writeInt(Integer.reverseBytes(1681511377))
    m.serializePortable(out)
    out.flush()
    buf.toByteArray
  }

  test("DV bitmaps are the standard 64-bit portable Roaring layout, both directions") {
    import graft.sources.DeletionVectors
    import org.roaringbitmap.longlong.Roaring64NavigableMap
    val sets = Seq(
      Array(1L, 3L),
      Array(5L, (1L << 32) + 7L),                 // two bitmaps, keys 0 and 1
      (0L until 5000L).map(_ * 2).toArray,        // one bitmap container
      Array((2L << 32) + 9L, (2L << 32) + 70000L)) // the only bitmap has key 2
    for (set <- sets) {
      val lib = libraryBytes(Roaring64NavigableMap.bitmapOf(set: _*))
      assert(DeletionVectors.serialize(set).toSeq == lib.toSeq, s"${set.take(3).toSeq}")
      assert(DeletionVectors.deserialize(lib).toSeq == set.toSeq)
    }
    // library output graft never writes itself: run containers and
    // sparse keys (bitmaps 0, 3 and 40 only)
    val runs = new Roaring64NavigableMap()
    runs.add(100L, 5000L)
    runs.add((3L << 32) + 10L, (3L << 32) + 70000L)
    runs.addLong((40L << 32) + 1L)
    assert(runs.runOptimize())
    assert(DeletionVectors.deserialize(libraryBytes(runs)).toSeq == runs.toArray.toSeq)
    assert(DeletionVectors.deserialize(libraryBytes(new Roaring64NavigableMap())).isEmpty)
  }

  test("corrupt DV bitmaps fail with IllegalArgumentException, never a partial set") {
    import graft.sources.DeletionVectors
    val good = DeletionVectors.serialize(Array(1L, 3L, (1L << 32) + 7L))
    val badMagic = good.clone(); badMagic(0) = (badMagic(0) + 1).toByte
    val badCookie = good.clone(); badCookie(16) = 0x11 // first bitmap's cookie
    val truncated = Seq(2, 10, 20, good.length - 1).map(java.util.Arrays.copyOf(good, _))
    for (bytes <- Seq(badMagic, badCookie, good :+ 0.toByte) ++ truncated)
      intercept[IllegalArgumentException](DeletionVectors.deserialize(bytes))
  }

  test("deletion vectors: crafted u-type and inline DVs drop the marked rows") {
    import graft.sources.DeletionVectors
    val table = Files.createTempDirectory("graft_delta_dv").toFile
    val schemaJson = Seq((1L, "a")).toDF("id", "s").schema.json.replace("\"", "\\\"")
    writePart(table, "part-1.parquet",
      Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e")).toDF("id", "s"))
    writePart(table, "part-2.parquet", Seq((10L, "x"), (11L, "y")).toDF("id", "s"))
    // u-type DV dropping rows 1 and 3 of part-1, written at offset 1
    val dvs = DeletionVectors.writeDvFile(table, Seq("part-1.parquet" -> Array(1L, 3L)))
    val d = dvs("part-1.parquet")
    val dvJson = s"""{"storageType":"u","pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset.get},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    writeCommit(table, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"part-1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":$dvJson}}""",
      """{"add":{"path":"part-2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaRead.readDelta(spark, table.getAbsolutePath)
      .as[(Long, String)].collect().toSet
    assert(got == Set((0L, "a"), (2L, "c"), (4L, "e"), (10L, "x"), (11L, "y")))
    // inline DV on part-2 dropping row 0
    val inlineBytes = DeletionVectors.serialize(Array(0L))
    val inline = DeletionVectors.z85Encode(inlineBytes)
    writeCommit(table, 1L, Seq(
      """{"remove":{"path":"part-2.parquet","deletionTimestamp":2,"dataChange":true}}""",
      s"""{"add":{"path":"part-2.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inline","sizeInBytes":${inlineBytes.length},"cardinality":1}}}"""))
    val got2 = DeltaRead.readDelta(spark, table.getAbsolutePath)
      .as[(Long, String)].collect().toSet
    assert(got2 == Set((0L, "a"), (2L, "c"), (4L, "e"), (11L, "y")))
    // time travel to v0 still sees part-2 complete
    assert(DeltaRead.readDelta(spark, table.getAbsolutePath, Some(0L)).count() == 5)
    // a descriptor without its storage type, payload or size is refused
    for (field <- Seq("storageType", "pathOrInlineDv", "sizeInBytes")) {
      val dv = Seq(""""storageType":"i"""", s""""pathOrInlineDv":"$inline"""",
        s""""sizeInBytes":${inlineBytes.length}""").filterNot(_.contains(s""""$field""""))
      writeCommit(table, 2L, Seq(
        s"""{"add":{"path":"part-2.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true,"deletionVector":{${dv.mkString(",")}}}}"""))
      val e = intercept[IllegalArgumentException](DeltaRead.readDelta(spark, table.getAbsolutePath))
      assert(e.getMessage.contains(s"missing '$field'"), e.getMessage)
    }
  }

  test("deleteWhere writes DVs: no rewrite, merge on second delete, checkpoint keeps them") {
    import graft.sources.{DeltaWrite, DeltaRead}
    import org.apache.spark.sql.SaveMode
    val table = Files.createTempDirectory("graft_delta_del").toFile
    val path = table.getAbsolutePath
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "s")
    DeltaWrite.toDelta(df.repartition(3), path)
    val dataFiles = table.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val v1 = DeltaWrite.deleteWhere(spark, path, col("id") % 10 === 3)
    assert(v1 == 1L)
    // the data files were NOT rewritten
    assert(table.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet == dataFiles)
    assert(table.listFiles().exists(_.getName.startsWith("deletion_vector_")))
    val after = DeltaRead.readDelta(spark, path).as[(Long, String)].collect()
    assert(after.length == 90 && after.forall(_._1 % 10 != 3))
    // second delete merges with the existing DVs
    val v2 = DeltaWrite.deleteWhere(spark, path, col("id") < 20)
    assert(v2 == 2L)
    val after2 = DeltaRead.readDelta(spark, path).as[(Long, String)].collect()
    assert(after2.length == 72 &&
      after2.forall(r => r._1 >= 20 && r._1 % 10 != 3))
    // no-op delete commits nothing
    assert(DeltaWrite.deleteWhere(spark, path, col("id") < 0) == 2L)
    // time travel reads the pre-delete versions
    assert(DeltaRead.readDelta(spark, path, Some(0L)).count() == 100)
    assert(DeltaRead.readDelta(spark, path, Some(1L)).count() == 90)
    // checkpoint carries the DV descriptors; aged-out prefix still reads
    DeltaWrite.checkpoint(spark, path)
    new File(new File(table, "_delta_log"), f"${0L}%020d.json").delete()
    new File(new File(table, "_delta_log"), f"${1L}%020d.json").delete()
    new File(new File(table, "_delta_log"), f"${2L}%020d.json").delete()
    assert(DeltaRead.readDelta(spark, path).count() == 72)
    // vacuum never touches the DV sidecars
    DeltaWrite.vacuum(spark, path, retentionMs = 0)
    assert(DeltaRead.readDelta(spark, path).count() == 72)
    // appends still work after the protocol upgrade
    DeltaWrite.toDelta(Seq((1000L, "z")).toDF("id", "s"), path, SaveMode.Append)
    assert(DeltaRead.readDelta(spark, path).count() == 73)
  }

  test("deleteWhere on a partitioned table: predicate over partition columns") {
    import graft.sources.{DeltaWrite, DeltaRead}
    val table = Files.createTempDirectory("graft_delta_delp").toFile
    val path = table.getAbsolutePath
    val df = (0L until 40L).map(i => (i, (i % 4).toString, s"v$i")).toDF("id", "p", "s")
    DeltaWrite.toDelta(df, path, partitionBy = Seq("p"))
    DeltaWrite.deleteWhere(spark, path, col("p") === "2" && col("id") < 20)
    val got = DeltaRead.readDelta(spark, path).as[(Long, String, String)].collect()
    assert(got.length == 35)
    assert(got.forall(r => !(r._2 == "2" && r._1 < 20)))
  }

  test("column mapping (name mode): physical names at every level rename back to logical") {
    import org.apache.spark.sql.types._
    val table = Files.createTempDirectory("graft_delta_cm").toFile
    // files carry PHYSICAL names, incl. inside the struct and the array
    val physDf = Seq(
      (1L, "a", (10L, "x"), Seq(1, 2)),
      (2L, "b", (20L, "y"), Seq(3))
    ).toDF("col-aaa", "col-bbb", "col-ccc", "col-ddd")
      .withColumn("col-ccc", struct(col("col-ccc._1").as("col-n1"), col("col-ccc._2").as("col-n2")))
    writePart(table, "part-1.parquet", physDf)
    def fm(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, fm(1, "col-aaa")),
      StructField("name", StringType, nullable = true, fm(2, "col-bbb")),
      StructField("meta", StructType(Seq(
        StructField("n1", LongType, nullable = true, fm(4, "col-n1")),
        StructField("n2", StringType, nullable = true, fm(5, "col-n2")))),
        nullable = true, fm(3, "col-ccc")),
      StructField("xs", ArrayType(IntegerType), nullable = true, fm(6, "col-ddd"))))
    val schemaJson = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    writeCommit(table, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"6"}}}""",
      """{"add":{"path":"part-1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaRead.readDelta(spark, table.getAbsolutePath)
    assert(got.columns.toSeq == Seq("id", "name", "meta", "xs"))
    assert(got.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("n1", "n2"))
    val rows = got.selectExpr("id", "name", "meta.n1", "meta.n2", "xs")
      .as[(Long, String, Long, String, Seq[Int])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "a", 10L, "x", Seq(1, 2)), (2L, "b", 20L, "y", Seq(3))))
    // a DELETE works on a column-mapped table too (predicate in logical terms)
    graft.sources.DeltaWrite.deleteWhere(spark, table.getAbsolutePath, col("id") === 1L)
    val after = DeltaRead.readDelta(spark, table.getAbsolutePath)
    assert(after.select("name").as[String].collect().toSeq == Seq("b"))
    // a same-schema APPEND works too (round 10): the writer physicalizes
    // names at every nesting level and stamps parquet field ids
    graft.sources.DeltaWrite.toDelta(
      Seq((3L, "c", (30L, "z"), Seq(9))).toDF("id", "name", "meta", "xs")
        .withColumn("meta", struct(col("meta._1").as("n1"), col("meta._2").as("n2"))),
      table.getAbsolutePath, org.apache.spark.sql.SaveMode.Append)
    val appended = DeltaRead.readDelta(spark, table.getAbsolutePath)
      .selectExpr("id", "name", "meta.n1", "xs")
      .as[(Long, String, Long, Seq[Int])].collect().sortBy(_._1)
    assert(appended.toSeq == Seq((2L, "b", 20L, Seq(3)), (3L, "c", 30L, Seq(9))))
    // the new file carries PHYSICAL names (a standard mapped reader's view)
    val newPart = Option(table.listFiles()).get
      .filter(f => f.getName.endsWith(".parquet") && f.getName != "part-1.parquet")
    assert(newPart.nonEmpty)
    val raw = spark.read.parquet(newPart.head.getAbsolutePath)
    assert(raw.columns.toSet == Set("col-aaa", "col-bbb", "col-ccc", "col-ddd"),
      raw.columns.mkString(","))
    // a SCHEMA-CHANGING overwrite EVOLVES the mapping (round 11):
    // surviving fields keep their ids, the new field gets a fresh one
    graft.sources.DeltaWrite.toDelta(
      Seq((4L, "d", 1.0)).toDF("id", "name", "extra"), table.getAbsolutePath)
    val st = DeltaRead.currentState(spark, table.getAbsolutePath).get
    val evolved = org.apache.spark.sql.types.DataType.fromJson(st.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(evolved("id").metadata.getString("delta.columnMapping.physicalName")
      == "col-aaa")
    assert(evolved("extra").metadata.getString("delta.columnMapping.physicalName")
      .startsWith("col-"))
    val back = DeltaRead.readDelta(spark, table.getAbsolutePath)
      .as[(Long, String, Double)].collect().toSeq
    assert(back == Seq((4L, "d", 1.0)), back.toString)
  }

  test("column mapping with partition columns: physical partitionValues keys") {
    import org.apache.spark.sql.types._
    val table = Files.createTempDirectory("graft_delta_cmp").toFile
    writePart(table, "f1.parquet", Seq(Tuple1(1L), Tuple1(2L)).toDF("col-xx"))
    writePart(table, "f2.parquet", Seq(Tuple1(3L)).toDF("col-xx"))
    def fm(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, fm(1, "col-xx")),
      StructField("region", StringType, nullable = true, fm(2, "col-yy"))))
    val schemaJson = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    writeCommit(table, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["region"],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{"col-yy":"east"},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{"col-yy":"west"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaRead.readDelta(spark, table.getAbsolutePath)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "east"), (2L, "east"), (3L, "west")))
  }

  test("distributed log replay: ~100k add/remove actions reconcile as one Spark job (round 11)") {
    val table = java.nio.file.Files.createTempDirectory("graft_delta_bigr").toFile
    val logDir = new File(table, "_delta_log"); logDir.mkdirs()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
    def jstr(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // 1000 commits × ~100 actions = ~100k lines: commit v adds 50 files
    // f_v_i; each v >= 1 also REMOVES 49 of commit v-1's files (keeping
    // f_{v-1}_0) and RE-ADDS one older survivor with a DV descriptor —
    // the protocol's remove-then-re-add update shape within one commit
    val nCommits = 1000
    for (v <- 0 until nCommits) {
      val lines = Seq.newBuilder[String]
      if (v == 0) {
        lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
        lines += s"""{"metaData":{"id":"big","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(schema.json)},"partitionColumns":[],""" +
          s""""configuration":{"k":"v$v"}}}"""
      }
      if (v > 0) for (i <- 1 until 50)
        lines += s"""{"remove":{"path":"f_${v - 1}_$i","deletionTimestamp":1,"dataChange":true}}"""
      for (i <- 0 until 50)
        lines += s"""{"add":{"path":"f_${v}_$i","partitionValues":{"p":"${i % 3}"},""" +
          s""""size":1,"modificationTime":1,"dataChange":true}}"""
      if (v > 1) {
        // DV-update on a long-lived survivor: remove + re-add in ONE commit
        lines += s"""{"remove":{"path":"f_0_0","deletionTimestamp":1,"dataChange":true}}"""
        lines += s"""{"add":{"path":"f_0_0","partitionValues":{"p":"0"},"size":1,""" +
          s""""modificationTime":1,"dataChange":true,"deletionVector":{""" +
          s""""storageType":"u","pathOrInlineDv":"dv$v","offset":1,"sizeInBytes":8,"cardinality":$v}}}"""
      }
      java.nio.file.Files.write(new File(logDir, f"$v%020d.json").toPath,
        (lines.result().mkString("\n") + "\n").getBytes("UTF-8"))
    }
    // expected active: survivors f_v_0 for v < 999, all 50 of commit 999
    val expected = (0 until nCommits - 1).map(v => s"f_${v}_0").toSet ++
      (0 until 50).map(i => s"f_${nCommits - 1}_$i")

    val st = DeltaRead.currentState(spark, table.getAbsolutePath).get
    assert(st.active.keySet.toSet == expected, s"active set wrong: ${st.active.size} files")
    assert(st.configuration == Map("k" -> "v0"))
    assert(st.version == (nCommits - 1).toLong)
    // the DV-update winner is the LATEST re-add's descriptor
    assert(st.active("f_0_0").dv.map(_.pathOrInlineDv).contains(s"dv${nCommits - 1}"))
    assert(st.active("f_0_0").pv == Map("p" -> "0"))
    org.apache.commons.io.FileUtils.deleteDirectory(table)
  }

  test("log replay runs as many Spark jobs for 20 commits as for 2, with or without a checkpoint") {
    import graft.sources.DeltaWrite
    val schemaJson = Seq(1L).toDF("id").schema.json.replace("\"", "\\\"")
    // `before` commits, an optional checkpoint at the last of them, then
    // `after` more; each commit adds two files and removes one older one
    def log(before: Int, after: Int, withCheckpoint: Boolean): String = {
      val table = Files.createTempDirectory("graft_delta_jobs").toFile
      def commit(v: Int): Unit = writeCommit(table, v.toLong,
        (if (v == 0) Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""")
        else Seq(s"""{"remove":{"path":"f_${v - 1}_0","deletionTimestamp":1,"dataChange":true}}""")) ++
        Seq(0, 1).map(i =>
          s"""{"add":{"path":"f_${v}_$i","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
      (0 until before).foreach(commit)
      if (withCheckpoint) DeltaWrite.checkpoint(spark, table.getAbsolutePath)
      (before until before + after).foreach(commit)
      table.getAbsolutePath
    }
    for (withCheckpoint <- Seq(false, true)) {
      // 20 commit paths stay under Spark's 32-path parallel-listing threshold
      val Seq(small, large) = Seq(2, 20).map { n =>
        val path = log(if (withCheckpoint) 3 else 0, n, withCheckpoint)
        val (st, jobs) = jobsDuring(DeltaRead.currentState(spark, path).get)
        val total = (if (withCheckpoint) 3 else 0) + n
        assert(st.version == total - 1L && st.active.size == total + 1)
        jobs
      }
      assert(small == large, s"checkpoint=$withCheckpoint: $small jobs at 2 commits, $large at 20")
    }
  }

  test("partition values with control characters, quotes and backslashes round-trip") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
    import graft.sources.DeltaWrite
    val table = Files.createTempDirectory("graft_delta_ctl").toFile
    val path = table.getAbsolutePath
    val langs = Seq("en", "a\nb", "t\tx", "c\u0001d", "q\"x", "b\\s")
    val df = langs.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("id", "lang")
    graft.api.Table(df).toDelta(path, partitionBy = Seq("lang"))
    assert(DeltaRead.readDelta(spark, path)
      .select("id", "lang").as[(Long, String)].collect().toSet ==
      langs.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toSet)
    // every commit-writing verb on the same table: the hive-escaped
    // t%09x directory gets a second, two-row file (a DV target), then
    // each verb commits once
    DeltaWrite.toDelta(Seq((10L, "t\tx"), (11L, "t\tx")).toDF("id", "lang").coalesce(1), path,
      SaveMode.Append, Seq("lang"))
    DeltaWrite.addColumns(spark, path, Seq(StructField("n", IntegerType)))
    DeltaWrite.widenColumn(spark, path, "n", LongType)
    DeltaWrite.deleteWhere(spark, path, col("id") === 10L)
    assert(DeltaRead.readDelta(spark, path).filter(col("lang") === "t\tx").select("id")
      .as[Long].collect().toSet == Set(2L, 11L))
    DeltaWrite.updateWhere(spark, path, col("id") === 2L, Map("n" -> lit(5L)))
    DeltaWrite.merge(spark, path, Seq((3L, 7L)).toDF("id", "n"), col("t.id") === col("s.id"),
      whenMatchedUpdate = Some(Map("n" -> col("s.n"))))
    assert(DeltaWrite.compact(spark, path) == 7L)
    assert(DeltaRead.readDelta(spark, path).select("id", "n").as[(Long, Option[Long])]
      .collect().toMap == (0L to 5L).map(i => i -> None).toMap ++
        Map(2L -> Some(5L), 3L -> Some(7L), 11L -> None))
    // every commit line is exactly one JSON object holding one action
    val commits = new File(table, "_delta_log").listFiles().filter(_.getName.endsWith(".json"))
    assert(commits.length == 8)
    for (f <- commits; line <- new String(Files.readAllBytes(f.toPath), "UTF-8").split("\n")) {
      org.json4s.jackson.JsonMethods.parseOpt(line) match {
        case Some(org.json4s.JObject(List((key, _: org.json4s.JObject)))) =>
          assert(Set("add", "remove", "metaData", "protocol")(key), line)
        case _ => fail(s"not one JSON object holding one action: $line")
      }
    }
    // map entries in key order with null values kept; absent options omitted
    import graft.sources.DeltaActions.{Add, SingleAction}
    val pv = Map("e" -> "5", "b" -> null, "d" -> "4", "a" -> "1", "c" -> "3")
    assert(graft.sources.DeltaActions.json(SingleAction(add = Add("p", pv, 1L, 2L, true))) ==
      """{"add":{"path":"p","partitionValues":{"a":"1","b":null,"c":"3","d":"4","e":"5"},""" +
        """"size":1,"modificationTime":2,"dataChange":true}}""")
  }

  test("checkpoint parquet has the protocol's checkpoint schema and true file sizes") {
    import org.apache.spark.sql.types.{IntegerType, MapType, StringType, StructType}
    import graft.sources.DeltaWrite
    val path = Files.createTempDirectory("graft_delta_cps").toFile.getAbsolutePath
    DeltaWrite.toDelta(Seq((1L, "en"), (2L, "en")).toDF("id", "lang").coalesce(1), path,
      partitionBy = Seq("lang"))
    DeltaWrite.deleteWhere(spark, path, col("id") === 1L)
    val v = DeltaWrite.checkpoint(spark, path)
    val cp = spark.read.parquet(new File(path, f"_delta_log/$v%020d.checkpoint.parquet").getPath)
    def structOf(t: StructType, f: String) = t(f).dataType.asInstanceOf[StructType]
    val add = structOf(cp.schema, "add")
    assert(add("partitionValues").dataType == MapType(StringType, StringType))
    assert(add("deletionVector").dataType.isInstanceOf[StructType])
    val meta = structOf(cp.schema, "metaData")
    assert(meta("configuration").dataType.isInstanceOf[MapType])
    assert(structOf(meta, "format")("options").dataType.isInstanceOf[MapType])
    assert(structOf(cp.schema, "protocol")("minReaderVersion").dataType == IntegerType)
    val adds = cp.filter(col("add").isNotNull)
      .select("add.path", "add.size", "add.partitionValues", "add.deletionVector.cardinality")
      .collect()
    assert(adds.length == 1)
    val size = new File(path, adds.head.getString(0)).length()
    assert(size > 0 && adds.head.getLong(1) == size)
    assert(adds.head.getMap[String, String](2) == Map("lang" -> "en"))
    assert(adds.head.getLong(3) == 1L)
    val conf = cp.filter(col("metaData").isNotNull)
      .select("metaData.configuration", "metaData.format.options").head()
    assert(conf.getMap[String, String](0).isEmpty && conf.getMap[String, String](1).isEmpty)
    assert(DeltaRead.readDelta(spark, path).select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("an add's stats, size and modification time survive a checkpoint") {
    import graft.sources.DeltaWrite
    val table = Files.createTempDirectory("graft_delta_stats").toFile
    val schemaJson = Seq((1L, "a")).toDF("id", "s").schema.json.replace("\"", "\\\"")
    writePart(table, "part-1.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val size = new File(table, "part-1.parquet").length()
    writeCommit(table, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"part-1.parquet","partitionValues":{},"size":$size,"modificationTime":7,"dataChange":true,"stats":"{\\"numRecords\\":2}"}}"""))
    DeltaWrite.checkpoint(spark, table.getAbsolutePath)
    new File(table, f"_delta_log/${0L}%020d.json").delete()
    val st = DeltaRead.currentState(spark, table.getAbsolutePath).get
    assert(st.active.toMap == Map("part-1.parquet" ->
      DeltaRead.AddEntry(Map.empty, size, 7L, Some("""{"numRecords":2}"""), None)))
    assert(DeltaRead.readDelta(spark, table.getAbsolutePath).count() == 2)
  }
}
