package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{DeltaRead, DeltaWrite}

/** Round-9 table-maintenance verbs over the native Delta writer:
  * copy-on-write UPDATE ([[DeltaWrite.updateWhere]]) and OPTIMIZE-style
  * compaction ([[DeltaWrite.compact]]) — end-to-end over real logs,
  * including the DV interactions (updates must not resurrect deleted
  * rows; compaction physically drops DV'd rows and purges descriptors),
  * partition moves, dataChange=false markers, and time travel. */
class DeltaMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def dataFiles(path: String): Seq[File] = {
    def walk(d: File): Seq[File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) { if (f.getName == "_delta_log") Seq.empty else walk(f) }
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      }
    walk(new File(path))
  }

  test("updateWhere rewrites only touched files; non-matching rows pass through") {
    val path = tmpTable("graft_upd")
    // two files: ids 0-4 and 5-9
    DeltaWrite.toDelta(spark.range(0, 5).select(col("id"),
      (col("id") * 10).as("v")), path)
    DeltaWrite.toDelta(spark.range(5, 10).select(col("id"),
      (col("id") * 10).as("v")), path, org.apache.spark.sql.SaveMode.Append)
    val before = dataFiles(path).map(_.getName).toSet

    val v = DeltaWrite.updateWhere(spark, path,
      col("id") === 7, Map("v" -> lit(-1)))
    assert(v == 2L)
    val got = DeltaRead.readDelta(spark, path)
      .as[(Long, Long)].collect().toMap
    assert(got(7L) == -1L)
    assert(got(6L) == 60L && got(2L) == 20L && got.size == 10)
    // only the 5-9 file was rewritten: the 0-4 file survives untouched
    val after = dataFiles(path).map(_.getName).toSet
    assert((before & after).nonEmpty, "untouched file should remain")
    assert(after != before, "touched file should be replaced")
    // pre-update state is still time-travelable
    val v1 = DeltaRead.readDelta(spark, path, asOfVersion = Some(1L))
      .as[(Long, Long)].collect().toMap
    assert(v1(7L) == 70L)
  }

  test("updateWhere after a DV delete neither resurrects nor updates dead rows") {
    val path = tmpTable("graft_upd_dv")
    DeltaWrite.toDelta(spark.range(0, 10).select(col("id"),
      (col("id") * 10).as("v")), path)
    DeltaWrite.deleteWhere(spark, path, col("id") < 3) // DVs on the file
    DeltaWrite.updateWhere(spark, path, col("id") < 6, Map("v" -> lit(0)))
    val got = DeltaRead.readDelta(spark, path).as[(Long, Long)].collect().toMap
    assert(got.size == 7, s"deleted rows resurrected: $got")
    assert(!got.contains(0L) && !got.contains(2L))
    assert(got(3L) == 0L && got(5L) == 0L && got(6L) == 60L)
    // the rewrite purged the DV: the touched file's add carries none
    val st = DeltaRead.currentState(spark, path).get
    assert(st.active.values.forall(_.dv.isEmpty), "DV should be purged by rewrite")
  }

  test("updateWhere can move rows between partitions") {
    val path = tmpTable("graft_upd_part")
    DeltaWrite.toDelta(
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "grp"),
      path, partitionBy = Seq("grp"))
    DeltaWrite.updateWhere(spark, path, col("id") === 2L, Map("grp" -> lit("b")))
    val got = DeltaRead.readDelta(spark, path).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "b")))
    // the row physically lives in grp=b's directory now
    val bFiles = dataFiles(path).filter(_.getAbsolutePath.contains("grp=b"))
    val inB = spark.read.parquet(bFiles.map(_.getAbsolutePath): _*)
      .select(col("id")).as[Long].collect().toSet
    assert(inB.contains(2L))
  }

  test("updateWhere: no match commits nothing; unknown column and empty set refused") {
    val path = tmpTable("graft_upd_nop")
    DeltaWrite.toDelta(spark.range(0, 5).toDF("id"), path)
    assert(DeltaWrite.updateWhere(spark, path, col("id") > 100,
      Map("id" -> lit(0))) == 0L) // still at version 0
    intercept[IllegalArgumentException] {
      DeltaWrite.updateWhere(spark, path, col("id") > 0, Map("nope" -> lit(0)))
    }
    intercept[IllegalArgumentException] {
      DeltaWrite.updateWhere(spark, path, col("id") > 0, Map.empty)
    }
  }

  test("compact bin-packs small files, drops DV'd rows physically, dataChange=false") {
    val path = tmpTable("graft_compact")
    DeltaWrite.toDelta(spark.range(0, 4).toDF("id"), path)
    for (i <- 1 to 4)
      DeltaWrite.toDelta(spark.range(i * 4, i * 4 + 4).toDF("id"), path,
        org.apache.spark.sql.SaveMode.Append)
    DeltaWrite.deleteWhere(spark, path, col("id") % 5 === 0) // 0,5,10,15 dead
    val filesBefore = dataFiles(path).length
    assert(filesBefore >= 5)

    val v = DeltaWrite.compact(spark, path)
    val st = DeltaRead.currentState(spark, path).get
    assert(st.version == v)
    assert(st.active.size == 1, s"expected one packed file, got ${st.active.size}")
    assert(st.active.values.forall(_.dv.isEmpty), "compaction must purge DVs")
    val got = DeltaRead.readDelta(spark, path).as[Long].collect().toSet
    assert(got == (0L until 20L).filter(_ % 5 != 0).toSet)
    // physically dropped: the packed file itself contains no dead rows
    val packed = spark.read.parquet(
      dataFiles(path).filter(f =>
        st.active.keys.exists(f.getAbsolutePath.endsWith)).map(_.getAbsolutePath): _*)
    assert(packed.count() == 16)
    // the commit is marked dataChange=false throughout
    val log = new File(path, "_delta_log")
    val commit = Files.readString(new File(log, f"$v%020d.json").toPath)
    assert(!commit.contains(""""dataChange":true"""))
    // pre-compaction data still time-travels (files not vacuumed yet)
    val v5 = DeltaRead.readDelta(spark, path, asOfVersion = Some(5L))
    assert(v5.count() == 16)
    // idempotent: a second compact finds nothing under-target to merge
    assert(DeltaWrite.compact(spark, path) == v)
  }

  test("compact respects partitions and the target size bins per partition") {
    val path = tmpTable("graft_compact_p")
    DeltaWrite.toDelta(
      spark.range(0, 6).select(col("id"), (col("id") % 2).cast("string").as("p")),
      path, partitionBy = Seq("p"))
    DeltaWrite.toDelta(
      spark.range(6, 12).select(col("id"), (col("id") % 2).cast("string").as("p")),
      path, org.apache.spark.sql.SaveMode.Append, partitionBy = Seq("p"))
    DeltaWrite.compact(spark, path)
    val st = DeltaRead.currentState(spark, path).get
    // one packed file per partition, partitionValues intact
    assert(st.active.size == 2)
    assert(st.active.values.map(_.pv("p")).toSet == Set("0", "1"))
    val got = DeltaRead.readDelta(spark, path)
      .agg(sum(col("id")), count(lit(1))).as[(Long, Long)].head()
    assert(got == ((0L until 12L).sum, 12L))
  }

  test("merge: upsert (update matched, insert unmatched) with t/s aliases") {
    val path = tmpTable("graft_merge")
    DeltaWrite.toDelta(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"), path)
    val source = Seq((2L, 99L), (4L, 40L)).toDF("id", "v")
    val ver = DeltaWrite.merge(spark, path, source,
      on = col("t.id") === col("s.id"),
      whenMatchedUpdate = Some(Map("v" -> col("s.v"))),
      whenNotMatchedInsert = Some(Map("id" -> col("s.id"), "v" -> col("s.v"))))
    assert(ver == 1L)
    val got = DeltaRead.readDelta(spark, path).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> 99L, 3L -> 30L, 4L -> 40L))
    // pre-merge state time-travels
    assert(DeltaRead.readDelta(spark, path, asOfVersion = Some(0L)).count() == 3)
  }

  test("merge: matched-delete clause, update gate precedence, insert default null") {
    val path = tmpTable("graft_merge_del")
    DeltaWrite.toDelta(
      Seq((1L, 10L, "x"), (2L, 20L, "x"), (3L, 30L, "x")).toDF("id", "v", "tag"), path)
    val source = Seq((1L, 100L), (2L, -1L), (5L, 50L)).toDF("id", "sv")
    DeltaWrite.merge(spark, path, source,
      on = col("t.id") === col("s.id"),
      whenMatchedUpdate = Some(Map("v" -> col("s.sv"))),
      matchedCondition = Some(col("s.sv") > 0), // only positive updates
      whenMatchedDelete = Some(lit(true)),      // other matches are deleted
      whenNotMatchedInsert = Some(Map("id" -> col("s.id"), "v" -> col("s.sv"))))
    val got = DeltaRead.readDelta(spark, path)
      .as[(Long, Long, Option[String])].collect().toSet
    // 1 updated (kept tag), 2 deleted, 3 untouched, 5 inserted with null tag
    assert(got == Set((1L, 100L, Some("x")), (3L, 30L, Some("x")), (5L, 50L, None)))
  }

  test("merge: a target row matched by two source rows aborts") {
    val path = tmpTable("graft_merge_multi")
    DeltaWrite.toDelta(Seq((1L, 10L)).toDF("id", "v"), path)
    val source = Seq((1L, 11L), (1L, 12L)).toDF("id", "v")
    val e = intercept[IllegalStateException] {
      DeltaWrite.merge(spark, path, source, col("t.id") === col("s.id"),
        whenMatchedUpdate = Some(Map("v" -> col("s.v"))))
    }
    assert(e.getMessage.contains("more than one source row"))
  }

  test("merge after a DV delete: dead rows neither match nor resurrect") {
    val path = tmpTable("graft_merge_dv")
    DeltaWrite.toDelta(spark.range(0, 6).select(col("id"), (col("id") * 10).as("v")), path)
    DeltaWrite.deleteWhere(spark, path, col("id") === 2L)
    // source targets the dead row (no match -> INSERT) and a live one
    val source = Seq((2L, 222L), (3L, 333L)).toDF("id", "v")
    DeltaWrite.merge(spark, path, source,
      on = col("t.id") === col("s.id"),
      whenMatchedUpdate = Some(Map("v" -> col("s.v"))),
      whenNotMatchedInsert = Some(Map("id" -> col("s.id"), "v" -> col("s.v"))))
    val got = DeltaRead.readDelta(spark, path).as[(Long, Long)].collect().toMap
    assert(got.size == 6)
    assert(got(2L) == 222L, "dead row is unmatched -> source INSERTS it fresh")
    assert(got(3L) == 333L)
    assert(got(0L) == 0L && got(5L) == 50L)
  }

  test("merge: no matches and no inserts commits nothing") {
    val path = tmpTable("graft_merge_nop")
    DeltaWrite.toDelta(Seq((1L, 10L)).toDF("id", "v"), path)
    val source = Seq((9L, 90L)).toDF("id", "v")
    val v = DeltaWrite.merge(spark, path, source, col("t.id") === col("s.id"),
      whenMatchedUpdate = Some(Map("v" -> col("s.v")))) // no insert clause
    assert(v == 0L)
  }

  test("vacuum reaps orphaned DV sidecars but keeps referenced ones") {
    val path = tmpTable("graft_vac_dv")
    DeltaWrite.toDelta(spark.range(0, 5).coalesce(1).select(col("id"),
      (col("id") * 10).as("v")), path)
    DeltaWrite.toDelta(spark.range(5, 10).coalesce(1).select(col("id"),
      (col("id") * 10).as("v")), path, org.apache.spark.sql.SaveMode.Append)
    DeltaWrite.deleteWhere(spark, path, col("id") === 1L) // bin1: file A only
    DeltaWrite.deleteWhere(spark, path, col("id") === 7L) // bin2: file B only
    DeltaWrite.updateWhere(spark, path, col("id") === 2L,
      Map("v" -> lit(-1L))) // rewrites A, purging its DV -> bin1 orphaned
    def bins = Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("deletion_vector_")).map(_.getName).toSet
    assert(bins.size == 2)
    val removed = DeltaWrite.vacuum(spark, path, retentionMs = 0L)
    assert(removed.exists(_.contains("deletion_vector_")), s"no sidecar reaped: $removed")
    assert(bins.size == 1, "the still-referenced sidecar must survive")
    val got = DeltaRead.readDelta(spark, path).as[(Long, Long)].collect().toMap
    assert(got.size == 8 && got(2L) == -1L && !got.contains(1L) && !got.contains(7L))
  }

  test("vacuum removes pre-compaction originals after retention but keeps the packed file") {
    val path = tmpTable("graft_compact_vac")
    DeltaWrite.toDelta(spark.range(0, 4).toDF("id"), path)
    DeltaWrite.toDelta(spark.range(4, 8).toDF("id"), path,
      org.apache.spark.sql.SaveMode.Append)
    val originals = dataFiles(path).size // spark.range writes several parts
    DeltaWrite.compact(spark, path)
    val removed = DeltaWrite.vacuum(spark, path, retentionMs = 0L)
    assert(removed.size == originals, s"expected $originals originals gone, got $removed")
    assert(DeltaRead.readDelta(spark, path).count() == 8)
  }

  test("deleteWhere at scale: large fraction of a multi-file table, DVs built per file on executors") {
    val path = tmpTable("graft_del_big")
    // 8 files × 5000 rows; the DELETE matches 40% of every file plus ALL
    // of one file's rows — exercises the distributed grouping (positions
    // never collect to the driver), per-file sidecars, and the fully-dead
    // removal in one commit
    DeltaWrite.toDelta(spark.range(0, 40000, 1, 8).select(col("id"),
      (col("id") % 10).as("m")), path)
    val nFiles = dataFiles(path).size
    assert(nFiles == 8)
    val v = DeltaWrite.deleteWhere(spark, path,
      col("m") < 4 || (col("id") >= 5000 && col("id") < 10000))
    assert(v == 1L)
    val got = DeltaRead.readDelta(spark, path)
    assert(got.count() == 40000L * 6 / 10 - 3000) // 60% survive, minus file 2's ms 4-9
    assert(got.filter(col("m") < 4).count() == 0)
    assert(got.filter(col("id") >= 5000 && col("id") < 10000).count() == 0)
    // one sidecar PER touched surviving file (executor-local writes), and
    // the fully-dead file dropped from the active set without a DV
    val bins = Option(new File(path).listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("deletion_vector_"))
    assert(bins == 7, s"expected 7 per-file sidecars, got $bins")
    assert(DeltaRead.activeFiles(spark, path).size == 7)
    // second delete merges into fresh per-file sidecars
    val v2 = DeltaWrite.deleteWhere(spark, path, col("m") === 4)
    assert(v2 == 2L)
    assert(DeltaRead.readDelta(spark, path).filter(col("m") === 4).count() == 0)
  }

  test("updateWhere/merge/compact write PHYSICAL names into column-mapped tables (round 10)") {
    import org.apache.spark.sql.types._
    val dir = tmpTable("graft_cm_dml")
    val table = new File(dir)
    // hand-craft a name-mode column-mapped table: the file carries
    // PHYSICAL names, the metaData maps them to logical id/v
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("p-id", "p-v")
      .coalesce(1).write.parquet(dir + "/stage")
    val stagePart = Option(new File(dir + "/stage").listFiles()).get
      .find(_.getName.endsWith(".parquet")).get
    Files.move(stagePart.toPath, new File(table, "part-1.parquet").toPath)
    def fm(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, fm(1, "p-id")),
      StructField("v", LongType, nullable = true, fm(2, "p-v"))))
    val schemaJson = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    new File(table, "_delta_log").mkdirs()
    Files.write(new File(new File(table, "_delta_log"), f"${0L}%020d.json").toPath,
      (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"$schemaJson","partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"2"}}}""",
        """{"add":{"path":"part-1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
      ).mkString("\n") + "\n").getBytes("UTF-8"))

    DeltaWrite.updateWhere(spark, dir, col("id") === 2L, Map("v" -> lit(-2L)))
    DeltaWrite.merge(spark, dir, Seq((3L, 333L), (9L, 90L)).toDF("id", "v"),
      col("t.id") === col("s.id"),
      whenMatchedUpdate = Some(Map("v" -> col("s.v"))),
      whenNotMatchedInsert = Some(Map("id" -> col("s.id"), "v" -> col("s.v"))))
    DeltaWrite.compact(spark, dir)
    val got = DeltaRead.readDelta(spark, dir).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> -2L, 3L -> 333L, 9L -> 90L), s"$got")
    // every surviving data file speaks the PHYSICAL namespace — a
    // standard column-mapped reader resolves it by name or field id
    for (f <- dataFiles(dir)) {
      val cols = spark.read.parquet(f.getAbsolutePath).columns.toSet
      assert(cols.subsetOf(Set("p-id", "p-v")), s"${f.getName}: $cols")
    }
    // same-schema OVERWRITE physicalizes too (no metaData re-emit: the
    // mapping stays authoritative from commit 0)
    DeltaWrite.toDelta(Seq((7L, 70L)).toDF("id", "v"), dir)
    assert(DeltaRead.readDelta(spark, dir).as[(Long, Long)].collect().toSeq ==
      Seq((7L, 70L)))
    assert(dataFiles(dir).forall(f =>
      spark.read.parquet(f.getAbsolutePath).columns.toSet
        .subsetOf(Set("p-id", "p-v"))))
  }

  test("id-mode column-mapped table takes DML through the same physical path") {
    import org.apache.spark.sql.types._
    val dir = tmpTable("graft_cm_id")
    val table = new File(dir)
    Seq((1L, 10L), (2L, 20L)).toDF("c1", "c2")
      .coalesce(1).write.parquet(dir + "/stage")
    val part = Option(new File(dir + "/stage").listFiles()).get
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(table, "f0.parquet").toPath)
    def fm(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, fm(1, "c1")),
      StructField("v", LongType, nullable = true, fm(2, "c2"))))
    val schemaJson = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    new File(table, "_delta_log").mkdirs()
    Files.write(new File(new File(table, "_delta_log"), f"${0L}%020d.json").toPath,
      (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"$schemaJson","partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"id",""" +
          s""""delta.columnMapping.maxColumnId":"2"}}}""",
        """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
      ).mkString("\n") + "\n").getBytes("UTF-8"))
    DeltaWrite.updateWhere(spark, dir, col("id") === 1L, Map("v" -> lit(-1L)))
    DeltaWrite.toDelta(Seq((3L, 30L)).toDF("id", "v"), dir,
      org.apache.spark.sql.SaveMode.Append)
    val got = DeltaRead.readDelta(spark, dir).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> -1L, 2L -> 20L, 3L -> 30L), s"$got")
  }

  test("partitioned column-mapped table: update moves rows between partitions with physical pv keys") {
    import org.apache.spark.sql.types._
    val dir = tmpTable("graft_cm_part")
    val table = new File(dir)
    // one physical file in partition east (partition col NOT in the file)
    Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L)).toDF("col-xx")
      .coalesce(1).write.parquet(dir + "/stage")
    val part = Option(new File(dir + "/stage").listFiles()).get
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(table, "f1.parquet").toPath)
    def fm(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, fm(1, "col-xx")),
      StructField("region", StringType, nullable = true, fm(2, "col-yy"))))
    val schemaJson = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    new File(table, "_delta_log").mkdirs()
    Files.write(new File(new File(table, "_delta_log"), f"${0L}%020d.json").toPath,
      (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"$schemaJson","partitionColumns":["region"],""" +
          s""""configuration":{"delta.columnMapping.mode":"name"}}}""",
        """{"add":{"path":"f1.parquet","partitionValues":{"col-yy":"east"},"size":1,"modificationTime":1,"dataChange":true}}"""
      ).mkString("\n") + "\n").getBytes("UTF-8"))

    // logical-term UPDATE that MOVES a row to a new partition value
    DeltaWrite.updateWhere(spark, dir, col("id") === 2L,
      Map("region" -> lit("west")))
    val got = DeltaRead.readDelta(spark, dir).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "east"), (2L, "west"), (3L, "east")), s"$got")
    // the rewrite's add actions carry PHYSICAL partitionValues keys
    val lastCommit = Option(new File(table, "_delta_log").listFiles()).get
      .filter(_.getName.endsWith(".json")).maxBy(_.getName)
    val text = new String(Files.readAllBytes(lastCommit.toPath), "UTF-8")
    assert(text.contains(""""col-yy":"west""""), text)
    assert(!text.contains(""""region":"""), s"logical pv key leaked: $text")
  }

  test("deleteWhere refuses a non-deterministic condition") {
    val path = tmpTable("graft_del_nondet")
    DeltaWrite.toDelta(spark.range(0, 10).select(col("id"),
      (col("id") * 2).as("v")), path)
    // the condition runs in two distributed passes — rand() or a clock
    // read could match different rows in each, silently over- or
    // under-deleting
    for (cond <- Seq(rand() < 0.5,
        col("v").cast("timestamp") <= current_timestamp())) {
      val e = intercept[IllegalArgumentException] {
        DeltaWrite.deleteWhere(spark, path, cond)
      }
      assert(e.getMessage.contains("deterministic"), e.getMessage)
    }
    assert(DeltaRead.readDelta(spark, path).count() == 10)
  }

  test("checkpoint preserves the replayed writer protocol verbatim") {
    // legacy writer-only requirement: protocol (1,4) must survive a
    // checkpoint, not degrade to the writer's own (1,2)
    val path = tmpTable("graft_cp_proto")
    DeltaWrite.toDelta(Seq((1L, 10L)).toDF("id", "v"), path)
    val log = new File(path, "_delta_log")
    Files.write(new File(log, f"${1L}%020d.json").toPath,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""".getBytes("UTF-8"))
    DeltaWrite.checkpoint(spark, path)
    new File(log, f"${0L}%020d.json").delete()
    new File(log, f"${1L}%020d.json").delete()
    val st = DeltaRead.currentState(spark, path).get
    assert(st.minWriter == 4, s"checkpoint degraded minWriterVersion to ${st.minWriter}")
    assert(DeltaRead.readDelta(spark, path).count() == 1)

    // v7 with writer-only features: the explicit writerFeatures list must
    // round-trip, not be synthesized from readerFeatures
    val path2 = tmpTable("graft_cp_proto7")
    DeltaWrite.toDelta(Seq((1L, 10L)).toDF("id", "v"), path2)
    val log2 = new File(path2, "_delta_log")
    Files.write(new File(log2, f"${1L}%020d.json").toPath,
      ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        """"writerFeatures":["appendOnly","invariants","generatedColumns"]}}""").getBytes("UTF-8"))
    DeltaWrite.checkpoint(spark, path2)
    new File(log2, f"${0L}%020d.json").delete()
    new File(log2, f"${1L}%020d.json").delete()
    val st2 = DeltaRead.currentState(spark, path2).get
    assert(st2.minWriter == 7 && st2.minReader == 1)
    assert(st2.writerFeatures == Set("appendOnly", "invariants", "generatedColumns"),
      s"writerFeatures degraded to ${st2.writerFeatures}")
  }

  test("merge: a NULL matched-delete condition keeps the row (SQL clause semantics)") {
    val path = tmpTable("graft_merge_nullgate")
    DeltaWrite.toDelta(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), path)
    // s.flag is NULL for id=1, true for id=2: SQL MERGE treats a NULL
    // clause condition as NOT satisfied, so only id=2 is deleted
    val source = Seq((1L, Option.empty[Boolean]), (2L, Some(true)))
      .toDF("id", "flag")
    DeltaWrite.merge(spark, path, source, col("t.id") === col("s.id"),
      whenMatchedDelete = Some(col("s.flag")))
    val got = DeltaRead.readDelta(spark, path).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L), s"null delete condition dropped a row: $got")
  }

  test("merge: insert-only with duplicate source matches does not abort") {
    val path = tmpTable("graft_merge_insonly")
    DeltaWrite.toDelta(Seq((1L, 10L)).toDF("id", "v"), path)
    // two source rows match target id=1 — a matched clause would abort on
    // ambiguity, but an insert-only merge applies nothing to matched rows
    val source = Seq((1L, 11L), (1L, 12L), (9L, 90L)).toDF("id", "v")
    val v = DeltaWrite.merge(spark, path, source, col("t.id") === col("s.id"),
      whenNotMatchedInsert = Some(Map("id" -> col("s.id"), "v" -> col("s.v"))))
    assert(v == 1L)
    val got = DeltaRead.readDelta(spark, path).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 9L -> 90L), s"$got")
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  test("pluggable log store: every write verb routes its commit through it") {
    import graft.sources.{DeltaLogStore, HardLinkLogStore}
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    val counting = new DeltaLogStore {
      def publish(logDir: File, version: Long, lines: Seq[String],
          tablePath: String): Unit = {
        seen += version
        HardLinkLogStore.publish(logDir, version, lines, tablePath)
      }
    }
    val prior = DeltaWrite.logStore
    DeltaWrite.logStore = counting
    try {
      val path = tmpTable("graft_logstore")
      DeltaWrite.toDelta(spark.range(0, 10).select(col("id"),
        (col("id") * 2).as("v")), path) // v0
      DeltaWrite.deleteWhere(spark, path, col("id") === 1L) // v1
      DeltaWrite.updateWhere(spark, path, col("id") === 2L,
        Map("v" -> lit(-1L))) // v2
      DeltaWrite.merge(spark, path, Seq((3L, 33L)).toDF("id", "v"),
        col("t.id") === col("s.id"),
        whenMatchedUpdate = Some(Map("v" -> col("s.v")))) // v3
      DeltaWrite.compact(spark, path) // v4
      assert(seen.toSeq == Seq(0L, 1L, 2L, 3L, 4L),
        s"commits bypassed the log store: $seen")
      val got = DeltaRead.readDelta(spark, path).as[(Long, Long)].collect().toMap
      assert(got.size == 9 && got(2L) == -1L && got(3L) == 33L)
      // put-if-absent: publishing an existing version fails loudly
      intercept[IllegalStateException] {
        HardLinkLogStore.publish(new File(path, "_delta_log"), 0L,
          Seq("""{"commitInfo":{}}"""), path)
      }
    } finally DeltaWrite.logStore = prior
  }

  test("writer protocol gate: append-only tables refuse destructive ops; declared invariants refuse writes") {
    val path = tmpTable("graft_wp_appendonly")
    DeltaWrite.toDelta(Seq((1L, 10L)).toDF("id", "v"), path)
    val st0 = DeltaRead.currentState(spark, path).get
    Files.write(new File(new File(path, "_delta_log"), f"${1L}%020d.json").toPath,
      (s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}",""" +
        s""""format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonStr(st0.schemaJson)},""" +
        s""""partitionColumns":[],""" +
        s""""configuration":{"delta.appendOnly":"true"}}}""").getBytes("UTF-8"))
    // appends still fine
    DeltaWrite.toDelta(Seq((2L, 20L)).toDF("id", "v"), path,
      org.apache.spark.sql.SaveMode.Append)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.deleteWhere(spark, path, col("id") === 1L)
    }
    assert(e.getMessage.contains("append-only"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.updateWhere(spark, path, col("id") === 1L, Map("v" -> lit(0L)))
    }
    assert(e2.getMessage.contains("append-only"))

    // a schema carrying a column invariant this writer cannot enforce
    val path2 = tmpTable("graft_wp_invariant")
    DeltaWrite.toDelta(Seq((1L, 10L)).toDF("id", "v"), path2)
    val meta = org.apache.spark.sql.types.Metadata.fromJson(
      """{"delta.invariants":"{\"expression\":{\"expression\":\"v > 0\"}}"}""")
    val invSchema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
      .add("v", org.apache.spark.sql.types.LongType, nullable = true, meta)
    Files.write(new File(new File(path2, "_delta_log"), f"${1L}%020d.json").toPath,
      (s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}",""" +
        s""""format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonStr(invSchema.json)},""" +
        s""""partitionColumns":[],"configuration":{}}}""").getBytes("UTF-8"))
    val e3 = intercept[IllegalArgumentException] {
      DeltaWrite.toDelta(Seq((3L, 30L)).toDF("id", "v"), path2,
        org.apache.spark.sql.SaveMode.Append)
    }
    assert(e3.getMessage.contains("invariants"), e3.getMessage)
  }

  /** A fresh hand-crafted name-mode column-mapped table (the round-10
    * fixture shape): physical names `p-id`/`p-v`, logical `id`/`v`. */
  private def mkMappedTable(prefix: String): String = {
    import org.apache.spark.sql.types._
    val dir = tmpTable(prefix)
    val table = new File(dir)
    Seq((1L, 10L), (2L, 20L)).toDF("p-id", "p-v")
      .coalesce(1).write.parquet(dir + "/stage")
    val part = Option(new File(dir + "/stage").listFiles()).get
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(table, "part-1.parquet").toPath)
    def fm(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, fm(1, "p-id")),
      StructField("v", LongType, nullable = true, fm(2, "p-v"))))
    new File(table, "_delta_log").mkdirs()
    Files.write(new File(new File(table, "_delta_log"), f"${0L}%020d.json").toPath,
      (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jsonStr(logical.json)},"partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"2"}}}""",
        """{"add":{"path":"part-1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
      ).mkString("\n") + "\n").getBytes("UTF-8"))
    dir
  }

  test("addColumns on a column-mapped table: fresh id, maxColumnId bump, null read-back, mapped append (round 11)") {
    import org.apache.spark.sql.types._
    val dir = mkMappedTable("graft_cm_addcol")
    val v = DeltaWrite.addColumns(spark, dir,
      Seq(StructField("w", StringType, nullable = true)))
    assert(v == 1L)
    // metadata evolved: fresh column id 3, maxColumnId bumped, existing
    // ids/physical names untouched
    val st = DeltaRead.currentState(spark, dir).get
    assert(st.configuration("delta.columnMapping.maxColumnId") == "3")
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    assert(schema("id").metadata.getString("delta.columnMapping.physicalName") == "p-id")
    assert(schema("w").metadata.getLong("delta.columnMapping.id") == 3L)
    assert(schema("w").metadata.getString("delta.columnMapping.physicalName")
      .startsWith("col-"))
    // pre-evolution files read back null in the new column
    val before = DeltaRead.readDelta(spark, dir)
      .as[(Long, Long, Option[String])].collect().toSet
    assert(before == Set((1L, 10L, None), (2L, 20L, None)), s"$before")
    // a post-evolution APPEND carries all three columns, physicalized
    DeltaWrite.toDelta(Seq((3L, 30L, "x")).toDF("id", "v", "w"), dir,
      org.apache.spark.sql.SaveMode.Append)
    val after = DeltaRead.readDelta(spark, dir)
      .as[(Long, Long, Option[String])].collect().toSet
    assert(after == before + ((3L, 30L, Some("x"))), s"$after")
    // the new file speaks the physical namespace for the fresh column too
    val physW = schema("w").metadata.getString("delta.columnMapping.physicalName")
    val newFiles = dataFiles(dir).filterNot(_.getName == "part-1.parquet")
    assert(newFiles.nonEmpty)
    for (f <- newFiles) {
      val cols = spark.read.parquet(f.getAbsolutePath).columns.toSet
      assert(cols == Set("p-id", "p-v", physW), s"${f.getName}: $cols")
    }
    // non-nullable and clashing adds refuse
    intercept[IllegalArgumentException] {
      DeltaWrite.addColumns(spark, dir, Seq(StructField("z", LongType, nullable = false)))
    }
    intercept[IllegalArgumentException] {
      DeltaWrite.addColumns(spark, dir, Seq(StructField("id", LongType)))
    }
  }

  test("schema-changing OVERWRITE on a column-mapped table evolves the mapping (round 11)") {
    import org.apache.spark.sql.types._
    val dir = mkMappedTable("graft_cm_evolve")
    // overwrite with one surviving column (id) and one new column (score)
    DeltaWrite.toDelta(Seq((5L, 0.5), (6L, 0.25)).toDF("id", "score"), dir)
    val st = DeltaRead.currentState(spark, dir).get
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    // surviving field keeps its id + physical name; new field gets id 3
    assert(schema("id").metadata.getLong("delta.columnMapping.id") == 1L)
    assert(schema("id").metadata.getString("delta.columnMapping.physicalName") == "p-id")
    assert(schema("score").metadata.getLong("delta.columnMapping.id") == 3L)
    assert(st.configuration("delta.columnMapping.maxColumnId") == "3")
    assert(st.configuration("delta.columnMapping.mode") == "name")
    val got = DeltaRead.readDelta(spark, dir).as[(Long, Double)].collect().toSet
    assert(got == Set((5L, 0.5), (6L, 0.25)), s"$got")
    // ACTIVE files speak the physical namespace (fresh col-<uuid> for
    // score); the logically-removed pre-overwrite file stays on disk
    // until vacuum
    val physScore = schema("score").metadata.getString("delta.columnMapping.physicalName")
    for (f <- dataFiles(dir) if st.active.contains(f.getName)) {
      val cols = spark.read.parquet(f.getAbsolutePath).columns.toSet
      assert(cols == Set("p-id", physScore), s"${f.getName}: $cols")
    }
    assert(st.active.nonEmpty)
    // a TYPE change on a surviving field still refuses
    intercept[IllegalArgumentException] {
      DeltaWrite.toDelta(Seq(("now-a-string", 1L)).toDF("id", "n"), dir)
    }
  }

  test("addColumns on an UNMAPPED table is a metadata-only commit with null read-back") {
    import org.apache.spark.sql.types._
    val path = tmpTable("graft_addcol_plain")
    DeltaWrite.toDelta(Seq((1L, 10L)).toDF("id", "v"), path)
    val before = dataFiles(path).map(_.getName).toSet
    val v = DeltaWrite.addColumns(spark, path,
      Seq(StructField("note", StringType, nullable = true)))
    assert(v == 1L)
    assert(dataFiles(path).map(_.getName).toSet == before, "data files must not change")
    val got = DeltaRead.readDelta(spark, path)
      .as[(Long, Long, Option[String])].collect().toSet
    assert(got == Set((1L, 10L, None)), s"$got")
    DeltaWrite.toDelta(Seq((2L, 20L, "hi")).toDF("id", "v", "note"), path,
      org.apache.spark.sql.SaveMode.Append)
    assert(DeltaRead.readDelta(spark, path).count() == 2)
  }

  test("widenColumn: metadata-only int->long / float->double; old files upcast on read (round 12)") {
    import org.apache.spark.sql.types._
    val path = tmpTable("graft_widen_plain")
    DeltaWrite.toDelta(Seq((1, 1.5f), (2, -2.25f)).toDF("id", "x"), path)
    val before = dataFiles(path).map(_.getName).toSet
    assert(DeltaWrite.widenColumn(spark, path, "id", LongType) == 1L)
    assert(DeltaWrite.widenColumn(spark, path, "x", DoubleType) == 2L)
    assert(dataFiles(path).map(_.getName).toSet == before, "metadata-only: no file rewrite")
    // old int32/float files read back under the WIDENED declared schema
    val df = DeltaRead.readDelta(spark, path)
    assert(df.schema("id").dataType == LongType, df.schema.simpleString)
    assert(df.schema("x").dataType == DoubleType, df.schema.simpleString)
    assert(df.as[(Long, Double)].collect().toSet == Set((1L, 1.5d), (2L, -2.25d)))
    // appends: narrower incoming data still conforms (files keep int32,
    // readers upcast), wider-than-declared refuses at the schema gate
    DeltaWrite.toDelta(Seq((3, 9.0f)).toDF("id", "x"), path,
      org.apache.spark.sql.SaveMode.Append)
    DeltaWrite.toDelta(Seq((4L, 16.0d)).toDF("id", "x"), path,
      org.apache.spark.sql.SaveMode.Append)
    assert(DeltaRead.readDelta(spark, path).as[(Long, Double)].collect().toSet ==
      Set((1L, 1.5d), (2L, -2.25d), (3L, 9.0d), (4L, 16.0d)))
    // protocol now carries the typeWidening feature on both lists and the
    // field records its delta.typeChanges history
    val st = DeltaRead.currentState(spark, path).get
    assert(st.readerFeatures.contains("typeWidening"), st.readerFeatures)
    assert(st.writerFeatures.contains("typeWidening"), st.writerFeatures)
    val idField = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]("id")
    assert(idField.metadata.contains("delta.typeChanges"), idField.metadata.json)
    // narrowing refuses
    assertThrows[IllegalArgumentException] {
      DeltaWrite.widenColumn(spark, path, "id", IntegerType)
    }
  }

  test("widenColumn on a COLUMN-MAPPED table keeps ids/physical names; mixed files upcast") {
    import org.apache.spark.sql.types._
    val dir = tmpTable("graft_widen_mapped")
    val table = new File(dir)
    // hand-craft a name-mode column-mapped table with an INT column
    Seq((1, "a")).toDF("p-k", "p-tag").coalesce(1).write.parquet(dir + "/stage")
    val stagePart = Option(new File(dir + "/stage").listFiles()).get
      .find(_.getName.endsWith(".parquet")).get
    Files.move(stagePart.toPath, new File(table, "part-1.parquet").toPath)
    def fm(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("k", IntegerType, nullable = true, fm(1, "p-k")),
      StructField("tag", StringType, nullable = true, fm(2, "p-tag"))))
    val schemaJson = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    new File(table, "_delta_log").mkdirs()
    Files.write(new File(new File(table, "_delta_log"), f"${0L}%020d.json").toPath,
      (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"$schemaJson","partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"2"}}}""",
        """{"add":{"path":"part-1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
      ).mkString("\n") + "\n").getBytes("UTF-8"))

    DeltaWrite.widenColumn(spark, dir, "k", LongType)
    val st = DeltaRead.currentState(spark, dir).get
    val kAfter = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]("k")
    assert(kAfter.dataType == LongType)
    assert(kAfter.metadata.getLong("delta.columnMapping.id") == 1L, "column id must survive")
    assert(kAfter.metadata.getString("delta.columnMapping.physicalName") == "p-k")
    // append LONG data into the mapped table, read mixed int32+int64 files
    DeltaWrite.toDelta(Seq((2L, "b")).toDF("k", "tag"), dir,
      org.apache.spark.sql.SaveMode.Append)
    assert(DeltaRead.readDelta(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  /** A one-file table (k INT, tag STRING) holding (1, a) and (2, b):
    * `fresh` at protocol (1,2), `mapped` a name-mode column-mapped table
    * at (2,5), `listed` at (3,7) with deletionVectors and typeWidening on
    * both feature lists. */
  private def protocolTable(kind: String): String = {
    import org.apache.spark.sql.types._
    val dir = tmpTable("graft_proto_" + kind)
    val log = new File(dir, "_delta_log")
    if (kind != "mapped") {
      DeltaWrite.toDelta(Seq((1, "a"), (2, "b")).toDF("k", "tag").coalesce(1), dir)
      if (kind == "listed")
        Files.write(new File(log, f"${1L}%020d.json").toPath,
          ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
            """"readerFeatures":["deletionVectors","typeWidening"],""" +
            """"writerFeatures":["deletionVectors","typeWidening"]}}""").getBytes("UTF-8"))
    } else {
      Seq((1, "a"), (2, "b")).toDF("p-k", "p-tag").coalesce(1).write.parquet(dir + "/stage")
      val part = new File(dir + "/stage").listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(dir, "part-1.parquet").toPath)
      def fm(id: Long, phys: String) = new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build()
      val logical = StructType(Seq(StructField("k", IntegerType, nullable = true, fm(1, "p-k")),
        StructField("tag", StringType, nullable = true, fm(2, "p-tag"))))
      val schemaJson = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
      log.mkdirs()
      Files.write(new File(log, f"${0L}%020d.json").toPath,
        (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":"$schemaJson","partitionColumns":[],""" +
            s""""configuration":{"delta.columnMapping.mode":"name",""" +
            s""""delta.columnMapping.maxColumnId":"2"}}}""",
          """{"add":{"path":"part-1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
        ).mkString("\n") + "\n").getBytes("UTF-8"))
    }
    dir
  }

  test("deleteWhere and widenColumn upgrade the protocol through one rule") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.LongType
    import org.json4s.jackson.JsonMethods.parse
    import graft.sources.DeltaActions
    val legacy5 = """"appendOnly","changeDataFeed","checkConstraints","columnMapping",""" +
      """"generatedColumns","invariants""""
    def protocol(reader: String, writer: String) = Some(
      s"""{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[$reader],"writerFeatures":[$writer]}""")
    val cases = Seq(
      ("fresh", "deletionVectors", protocol(""""deletionVectors"""",
        """"appendOnly","deletionVectors","invariants"""")),
      ("fresh", "typeWidening", protocol(""""typeWidening"""",
        """"appendOnly","invariants","typeWidening"""")),
      ("mapped", "deletionVectors", protocol(""""columnMapping","deletionVectors"""",
        legacy5.replace(""""generatedColumns"""", """"deletionVectors","generatedColumns""""))),
      // a reader-v3 protocol lists columnMapping while the table is mapped
      ("mapped", "typeWidening", protocol(""""columnMapping","typeWidening"""",
        legacy5 + ""","typeWidening"""")),
      ("listed", "deletionVectors", None),
      ("listed", "typeWidening", None))
    for ((kind, feature, expected) <- cases) {
      val path = protocolTable(kind)
      val st = DeltaRead.currentState(spark, path).get
      assert(DeltaWrite.protocolWith(st, feature).map(p => parse(DeltaActions.json(p))) ==
        expected.map(parse(_)), s"$kind/$feature")
      val v =
        if (feature == "deletionVectors") DeltaWrite.deleteWhere(spark, path, col("k") === 1)
        else DeltaWrite.widenColumn(spark, path, "k", LongType)
      assert(v == st.version + 1)
      val committed = Files.readAllLines(new File(path, f"_delta_log/$v%020d.json").toPath)
        .asScala.toSeq.map(l => parse(l) \ "protocol").filter(_ != org.json4s.JNothing)
      assert(committed == expected.map(parse(_)).toSeq, s"$kind/$feature")
    }
  }

  test("every metaData action of a table carries the id its creating commit minted") {
    import org.apache.spark.sql.types._
    import graft.sources.DeltaActions
    def ids(path: String): Seq[String] = {
      val log = new File(path, "_delta_log")
      val commits = spark.read.schema(DeltaActions.schema).json(s"$log/*.json")
      val checkpoint = spark.read.parquet(s"$log/*.checkpoint.parquet")
      Seq(commits, checkpoint).flatMap(_.where(col("metaData").isNotNull)
        .orderBy(input_file_name()).select("metaData.id").as[String].collect())
    }
    val path = tmpTable("graft_table_id")
    DeltaWrite.toDelta(Seq((1, 10)).toDF("k", "v"), path)
    DeltaWrite.addColumns(spark, path, Seq(StructField("note", StringType, nullable = true)))
    DeltaWrite.widenColumn(spark, path, "v", LongType)
    DeltaWrite.toDelta(Seq(("a", 2.5)).toDF("name", "x"), path)
    DeltaWrite.checkpoint(spark, path)
    val all = ids(path)
    assert(all.size == 5 && all.distinct.size == 1 && all.head != null, all)
    assert(DeltaRead.currentState(spark, path).get.tableId == all.head)

    val other = tmpTable("graft_table_id_other")
    DeltaWrite.toDelta(Seq((1, 10)).toDF("k", "v"), other)
    DeltaWrite.checkpoint(spark, other)
    assert(ids(other).distinct.size == 1 && ids(other).head != all.head)
  }
}
