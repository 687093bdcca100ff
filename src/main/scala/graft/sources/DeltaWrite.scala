package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sources.DeltaActions.{Add, LastCheckpoint, Metadata, Protocol, Remove, SingleAction}

/** Native Delta Lake WRITE for filesystems with atomic link/rename — the
  * single-writer side of [[DeltaRead]], per the same public protocol:
  * data lands as plain parquet parts, then ONE commit JSON
  * (`_delta_log/%020d.json`) publishes them with add (and, for
  * overwrite, remove) actions. Every verb builds its commit from the
  * one action model, [[DeltaActions.SingleAction]], one JSON line per
  * action, and [[checkpoint]] writes the same classes as parquet rows —
  * the protocol's checkpoint schema, keeping each file's size, stats and
  * DV descriptor. The commit is made visible by hard-link
  * creation into the versioned name — atomic AND failing when the
  * version already exists, which is the put-if-absent contract the Delta
  * spec requires of a log store (plain rename() silently REPLACES on
  * POSIX). Correct for local/NFS/HDFS-style semantics, the
  * delta-standalone model; S3-style multi-writer coordination needs a
  * real log-store service and stays with delta-spark (DIVERGENCES §3).
  *
  * The writer replays the existing table state first (checkpoints
  * included, via [[DeltaRead]]): the next version counts BOTH commit
  * JSONs and checkpoints, appends validate schema AND partitioning
  * against the table's metaData (a silent mismatch would read back as
  * all-null columns), and overwrite with a new schema or partitioning
  * publishes an updated metaData action. Partitioned layouts are
  * hive-style dirs with per-add `partitionValues` (see [[toDelta]]).
  * Writer-side protocol requirements are ENFORCED ([[checkWriteProtocol]]):
  * unknown writer features, append-only tables facing destructive ops,
  * CHECK constraints / invariants / generated or identity columns / CDF
  * refuse clearly. COLUMN-MAPPED tables (name or id mode) take writes
  * natively — frames physicalize to the mapped names with parquet field
  * ids before landing ([[toPhysical]]); only a schema/partitioning
  * change on such a table stays refused (fresh column-id assignment).
  *
  * Fresh tables carry protocol (1,2); a DV-writing DELETE and a type
  * widening upgrade to (3,7) through one rule ([[protocolWith]]),
  * preserving prior writer requirements. */
object DeltaWrite {

  /** Write `df` to a Delta table at `path`. Supported modes: Overwrite
    * (logically removes previously active files; may change the schema
    * and the partitioning) and Append (schema AND partitioning must
    * match the table's). `partitionBy` emits a hive-style directory
    * layout (`col=value/part-*.parquet`, partition columns excluded from
    * the data files) with each add action carrying the authoritative
    * `partitionValues` map — the layout any standard Delta reader and
    * [[DeltaRead]] consume, and the one that lets a 100 TB table prune
    * whole partitions at the metadata level before any scan.
    * Returns the committed version. */
  def toDelta(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
      partitionBy: Seq[String] = Seq.empty): Long = {
    require(mode == SaveMode.Overwrite || mode == SaveMode.Append,
      s"toDelta supports Overwrite/Append, got $mode")
    partitionBy.foreach { c =>
      require(df.schema.fieldNames.contains(c),
        s"partition column $c is not in the dataframe schema ${df.schema.simpleString}")
    }
    require(partitionBy.size < df.schema.size,
      "partitioning by every column would leave no data columns in the files")
    val table = new File(path)
    val logDir = new File(table, "_delta_log")
    logDir.mkdirs()

    // existing table state — version counting must see CHECKPOINTS too
    // (a checkpoint-only log is a real table, not a fresh one)
    val prior = DeltaRead.currentState(df.sparkSession, path)
    val version = prior.map(_.version + 1).getOrElse(0L)
    prior.foreach { st =>
      if (mode == SaveMode.Append)
        require(st.partitionCols == partitionBy,
          s"append partitioning ${partitionBy.mkString("[", ",", "]")} does not match " +
            s"the table's ${st.partitionCols.mkString("[", ",", "]")} at $path")
      if (mode == SaveMode.Append && st.schemaJson != null) {
        val existing = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
        val same = conformsTo(df.schema, existing)
        require(same,
          s"append schema ${df.schema.simpleString} does not match the table's " +
            s"${existing.simpleString} at $path — the mismatch would read back " +
            "as null columns")
      }
    }
    prior.foreach(st =>
      checkWriteProtocol(st, path, appendOnlyOp = mode == SaveMode.Append))
    val priorActive: Seq[String] =
      if (mode == SaveMode.Overwrite) prior.map(_.active.keys.toSeq).getOrElse(Seq.empty)
      else Seq.empty
    // "changed" when the name/type shape differs OR the incoming data does
    // not conform to the declared nullability (an overwrite LOOSENING a
    // field from non-null to nullable must re-emit metaData, or the table
    // keeps declaring non-null while new files can hold nulls)
    val schemaChanged = prior.forall(_.schemaJson == null) ||
      prior.exists { st =>
        val existing = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
        shapeOf(existing) != shapeOf(df.schema) || !conformsTo(df.schema, existing)
      }
    val partitioningChanged = prior.exists(_.partitionCols != partitionBy)
    val needMeta = prior.isEmpty ||
      (mode == SaveMode.Overwrite && (schemaChanged || partitioningChanged))

    // column-mapped tables (round 10/11): writes go through the PHYSICAL
    // names + parquet field ids ([[toPhysical]]). A schema-changing
    // OVERWRITE now EVOLVES the mapping ([[evolveMapped]], round 11):
    // surviving fields keep their column ids / physical names, new fields
    // get fresh ids (maxColumnId bumps) — the delta-spark model; only a
    // TYPE change on an existing field still refuses.
    val mapped = prior.exists(DeltaRead.columnMapped)
    val (schemaJsonOut, confOut): (String, Map[String, String]) = prior match {
      case None => (df.schema.json, Map.empty)
      case Some(st) if !mapped =>
        (df.schema.json, st.configuration)
      case Some(st) =>
        if (!needMeta) (st.schemaJson, st.configuration)
        else {
          val existing = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
          val maxId0 = st.configuration.get("delta.columnMapping.maxColumnId")
            .map(_.toLong).getOrElse(0L)
          val (evolved, maxId) = evolveMapped(existing, df.schema, maxId0, path)
          (evolved.json,
            st.configuration + ("delta.columnMapping.maxColumnId" -> maxId.toString))
        }
    }
    val (outDf, layoutParts) =
      if (!mapped) (df, partitionBy)
      else {
        val schema = DataType.fromJson(schemaJsonOut).asInstanceOf[StructType]
        (toPhysical(df, schema), partitionBy.map(c => DeltaRead.physName(schema(c))))
      }
    val added = writeParts(outDf, table, layoutParts)

    val protocol = if (prior.isEmpty) Some(Protocol(1, 2)) else None
    val meta = if (!needMeta) None else Some(Metadata(id = tableId(prior),
      schemaString = schemaJsonOut,
      partitionColumns = partitionBy, configuration = confOut,
      createdTime = Some(System.currentTimeMillis())))
    publishCommit(logDir, version,
      protocol.map(p => SingleAction(protocol = p)).toSeq ++
        meta.map(m => SingleAction(metaData = m)) ++
        removes(priorActive, dataChange = true) ++ added.map(a => SingleAction(add = a)),
      path)
    version
  }

  /** DELETE rows matching `condition` by writing DELETION VECTORS — the
    * protocol's no-rewrite delete (PROTOCOL.md "Deletion Vectors"): the
    * data files stay untouched; each touched file gets a bitmap of its
    * deleted row positions in a `deletion_vector_<uuid>.bin` sidecar
    * ([[DeletionVectors]]), and one commit re-adds the file with the
    * descriptor (remove + add, the protocol's DV-update shape). Prior
    * DVs merge (a second delete unions row sets), and a file whose live
    * rows ALL match is removed outright — no fully-dead DV lingers. The
    * first DV-writing commit upgrades the table to reader v3 / writer v7
    * with the `deletionVectors` feature — exactly what delta-spark does.
    *
    * Scale: discovery is one map-side-combining aggregation (the driver
    * holds only per-touched-file counts); the matched row positions
    * group per file ON EXECUTORS, where each task merges the file's
    * prior DV, serializes the bitmap and writes its own sidecar — only
    * (file, descriptor) rows return to the driver, so a DELETE matching
    * billions of rows never materializes positions driver-side (the
    * delta-spark model; requires executor-visible table storage, same
    * as every write path here). Returns the committed version; a DELETE
    * matching nothing commits nothing. */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, path: String,
      condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, when}
    val st = DeltaRead.currentState(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no Delta table at $path"))
    DeltaRead.checkProtocol(st, path)
    checkWriteProtocol(st, path, appendOnlyOp = false)
    val table = new File(path)
    val logDir = new File(table, "_delta_log")
    // the condition is evaluated in TWO distributed passes (counts, then
    // the DV build) — a predicate whose value can change between passes
    // (rand(), current_timestamp()) could silently over- or under-delete;
    // the ANALYZED expression is checked (the unresolved form reports
    // functions as deterministic before resolution)
    locally {
      import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTimestampLike}
      val probe = DeltaRead.readWithLineage(spark, path)
        .select(condition.as("__graft_cond"))
      val unstable = probe.queryExecution.analyzed.expressions.exists(_.exists(x =>
        !x.deterministic || x.isInstanceOf[CurrentTimestampLike] ||
          x.isInstanceOf[CurrentDate]))
      require(!unstable,
        s"deleteWhere condition must be deterministic and time-independent " +
          s"(got: $condition); evaluate random/clock expressions to literals first")
    }
    // per-file matched/live totals — a file whose live rows ALL match is
    // REMOVED outright (delta-spark's DELETE does the same) instead of
    // carrying a fully-dead DV forever. Partial aggregation: the driver
    // sees |touched files| count rows, never positions.
    val counts = DeltaRead.readWithLineage(spark, path)
      .groupBy(col("_graft_file"))
      .agg(count(when(condition, lit(1))).as("matched"), count(lit(1)).as("live"))
      .filter(col("matched") > 0)
      .collect()
    if (counts.isEmpty) return st.version
    val absToRel: Map[String, String] =
      st.active.keys.map(p => resolveAbs(table, p) -> p).toMap
    def relOf(fp: String): String = {
      val abs = new File(DeltaRead.filePathToLocal(fp)).getAbsolutePath
      absToRel.getOrElse(abs,
        throw new IllegalStateException(s"scanned file $abs not in the active set"))
    }
    val touched: Seq[(String, Boolean)] =
      counts.toSeq.map(r => (relOf(r.getString(0)), r.getLong(1) == r.getLong(2)))
    val matchedByRel: Map[String, Long] =
      counts.toSeq.map(r => relOf(r.getString(0)) -> r.getLong(1)).toMap
    val dead = touched.filter(_._2).map(_._1)
    val needDv: Seq[String] = touched.filterNot(_._2).map(_._1)
    // distributed DV build: the matched (file, pos) pairs of EVERY file
    // the second evaluation matches — NOT pre-filtered to pass-1's touched
    // set, so a predicate drifting to match rows in a previously-untouched
    // file surfaces as a pass-2-only entry for the drift check below —
    // shuffle and group per file. Files keeping live rows write their
    // sidecar inside the task (one per file; the protocol allows any
    // file↔sidecar arrangement); fully-dead and pass-2-only files just
    // RECOUNT so the two passes can be cross-checked in both directions.
    import spark.implicits._
    val priorDv: Map[String, DeletionVectors.Descriptor] =
      needDv.flatMap(rel => st.active(rel).dv.map(rel -> _)).toMap
    val absToRelB = spark.sparkContext.broadcast(absToRel)
    val priorDvB = spark.sparkContext.broadcast(priorDv)
    val needDvB = spark.sparkContext.broadcast(needDv.toSet)
    val tablePath = table.getAbsolutePath
    // (file, its new descriptor if it keeps live rows, rows matched)
    val results = DeltaRead.readWithLineage(spark, path)
      .filter(condition)
      .select(col("_graft_file").cast("string").as("_1"),
        col("_graft_pos").cast("long").as("_2"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (fp, rows) =>
        val tableDir = new File(tablePath)
        val abs = new File(DeltaRead.filePathToLocal(fp)).getAbsolutePath
        val rel = absToRelB.value(abs)
        if (!needDvB.value.contains(rel)) {
          var c = 0L; rows.foreach(_ => c += 1)
          (rel, Option.empty[DeletionVectors.Descriptor], c)
        } else {
          val fresh = rows.map(_._2).toArray
          val merged = priorDvB.value.get(rel) match {
            case Some(d) =>
              (DeletionVectors.readDescriptor(d, tableDir) ++ fresh).distinct.sorted
            case None => java.util.Arrays.sort(fresh); fresh
          }
          (rel, Some(DeletionVectors.writeDvFile(tableDir, Seq(rel -> merged))(rel)),
            fresh.length.toLong)
        }
      }
      .collect()
    // both passes must agree on the matched count of EVERY file — a
    // predicate whose value drifted between passes (hidden state the
    // determinism probe can't see) must abort the commit, whether the
    // drift shrank a touched file's match set OR newly matched rows in a
    // file pass 1 never saw (an entry appearing only in pass 2)
    locally {
      val freshByRel = results.map(r => r._1 -> r._3).toMap
      val drifted = (touched.map(_._1) ++
          freshByRel.keys.filterNot(matchedByRel.contains)).distinct
        .filter(rel => freshByRel.getOrElse(rel, 0L) != matchedByRel.getOrElse(rel, 0L))
      require(drifted.isEmpty,
        s"deleteWhere: the condition matched different rows across the two " +
          s"distributed passes in ${drifted.size} file(s) " +
          s"(${drifted.take(3).mkString(", ")}…) — nothing was committed")
    }
    val descriptors = results.flatMap { case (rel, d, _) => d.map(rel -> _) }.toMap
    val now = System.currentTimeMillis()
    val upgrade = if (needDv.isEmpty) None else protocolWith(st, "deletionVectors")
    val reAdds = needDv.map { rel =>
      SingleAction(add = Add(rel, st.active(rel).pv, new File(resolveAbs(table, rel)).length(),
        now, dataChange = true, deletionVector = Some(descriptors(rel))))
    }
    publishCommit(logDir, st.version + 1,
      upgrade.map(p => SingleAction(protocol = p)).toSeq ++
        removes(dead ++ needDv, dataChange = true) ++ reAdds,
      path)
    st.version + 1
  }

  /** UPDATE rows matching `condition` — copy-on-write, the protocol's
    * standard UPDATE shape (and delta-spark's default without DVs): only
    * files containing at least one matching LIVE row are rewritten; each
    * rewrite applies `SET col = expr` to matching rows, carries
    * non-matching rows through unchanged, and DROPS deleted rows (the
    * rewrite reads through the deletion vectors, so the fresh files need
    * no DV and the commit purges them for the touched files). Assignments
    * to PARTITION columns work: rewritten rows re-partition into their
    * new `col=value` directories. Assigned expressions are cast to the
    * column's existing type — the table schema never changes. Returns
    * the committed version; an UPDATE matching nothing commits nothing.
    *
    * Scale: file discovery is one distributed scan; only touched files
    * are re-read and rewritten (a second distributed job); the driver
    * holds file PATHS, never rows. */
  def updateWhere(spark: org.apache.spark.sql.SparkSession, path: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{col, when}
    require(set.nonEmpty, "updateWhere needs at least one SET assignment")
    val st = DeltaRead.currentState(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no Delta table at $path"))
    DeltaRead.checkProtocol(st, path)
    checkWriteProtocol(st, path, appendOnlyOp = false)
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    val unknown = set.keySet -- schema.fieldNames
    require(unknown.isEmpty,
      s"updateWhere SET targets ${unknown.mkString(", ")} not in the table " +
        s"schema ${schema.fieldNames.mkString(", ")}")
    val table = new File(path)

    // touched files: those with >= 1 live matching row
    val touchedAbs = DeltaRead.readWithLineage(spark, path)
      .filter(condition).select(col("_graft_file")).distinct()
      .collect().map(r => new File(DeltaRead.filePathToLocal(r.getString(0))).getAbsolutePath)
    if (touchedAbs.isEmpty) return st.version
    val absToRel: Map[String, String] =
      st.active.keys.map(p => resolveAbs(table, p) -> p).toMap
    val touchedRel = touchedAbs.map(a => absToRel.getOrElse(a,
      throw new IllegalStateException(s"scanned file $a not in the active set"))).toSet

    // rewrite: matching rows take the assignment, everything else passes
    val rows = DeltaRead.readSubset(spark, path, touchedRel)
    val updated = rows.select(schema.fields.map { f =>
      set.get(f.name) match {
        case Some(e) => when(condition, e.cast(f.dataType))
          .otherwise(col("`" + f.name.replace("`", "``") + "`"))
          .cast(f.dataType).as(f.name)
        case None => col("`" + f.name.replace("`", "``") + "`")
      }
    }.toSeq: _*)
    val (outDf, layoutParts) = forLayout(updated, st)
    val added = writeParts(outDf, table, layoutParts)
    publishCommit(new File(table, "_delta_log"), st.version + 1,
      removes(touchedRel.toSeq.sorted, dataChange = true) ++ added.map(a => SingleAction(add = a)),
      path)
    st.version + 1
  }

  /** MERGE INTO — the upsert verb (copy-on-write, delta-spark semantics).
    * The target table is aliased `t` and `source` is aliased `s`; the
    * `on` condition and every assignment expression reference columns
    * through those aliases (`col("t.id") === col("s.id")`, `Map("v" ->
    * col("s.v"))`). Clauses, each optional:
    *
    *   - `whenMatchedUpdate`: SET assignments for matched target rows
    *     (applied when `matchedCondition` holds, if given);
    *   - `whenMatchedDelete`: matched target rows satisfying this
    *     condition are dropped (evaluated after the update gate — a row
    *     taken by update is not deleted, mirroring clause order);
    *   - `whenNotMatchedInsert`: assignments (by target column name) for
    *     source rows matching NO target row; unassigned columns go null.
    *
    * A target row matched by MORE THAN ONE source row aborts (the
    * protocol's ambiguous-merge error — applying two updates to one row
    * is nondeterministic). Only files containing a matched live row are
    * rewritten (reading through DVs, which the rewrite purges for those
    * files); inserts append. Returns the committed version — or the
    * current one when nothing matched and nothing inserts.
    *
    * Scale: discovery is one distributed join; the cardinality check is
    * an aggregation on (file, position); rewrites re-read only touched
    * files; rows never touch the driver. */
  def merge(spark: org.apache.spark.sql.SparkSession, path: String,
      source: DataFrame, on: org.apache.spark.sql.Column,
      whenMatchedUpdate: Option[Map[String, org.apache.spark.sql.Column]] = None,
      matchedCondition: Option[org.apache.spark.sql.Column] = None,
      whenMatchedDelete: Option[org.apache.spark.sql.Column] = None,
      whenNotMatchedInsert: Option[Map[String, org.apache.spark.sql.Column]] = None): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, when}
    require(whenMatchedUpdate.isDefined || whenMatchedDelete.isDefined ||
      whenNotMatchedInsert.isDefined, "merge needs at least one WHEN clause")
    val st = DeltaRead.currentState(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no Delta table at $path"))
    DeltaRead.checkProtocol(st, path)
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    whenMatchedUpdate.foreach { m =>
      val unknown = m.keySet -- schema.fieldNames
      require(unknown.isEmpty, s"merge UPDATE targets unknown columns: $unknown")
    }
    whenNotMatchedInsert.foreach { m =>
      val unknown = m.keySet -- schema.fieldNames
      require(unknown.isEmpty, s"merge INSERT targets unknown columns: $unknown")
    }
    val table = new File(path)
    val src = source.alias("s")
    val hasMatchedClause = whenMatchedUpdate.isDefined || whenMatchedDelete.isDefined
    checkWriteProtocol(st, path, appendOnlyOp = !hasMatchedClause)

    // discovery join: touched files + per-row match-cardinality check.
    // Insert-only merges skip both — no file is rewritten, and delta-spark
    // only raises the multi-match cardinality error when a matched clause
    // exists (applying NO update/delete to a twice-matched row is not
    // ambiguous).
    val touchedRel: Set[String] = if (!hasMatchedClause) Set.empty else {
      val lin = DeltaRead.readWithLineage(spark, path).alias("t")
      val matchedRows = lin.join(src, on, "inner")
        .groupBy(col("t._graft_file"), col("t._graft_pos"))
        .agg(count(lit(1)).as("m"))
      val multi = matchedRows.filter(col("m") > 1).limit(1).collect()
      if (multi.nonEmpty)
        throw new IllegalStateException(
          "merge: a target row is matched by more than one source row — " +
            "the update/delete to apply is ambiguous (same error delta-spark raises)")
      val touchedAbs = matchedRows.select(col("_graft_file")).distinct()
        .collect().map(r => new File(DeltaRead.filePathToLocal(r.getString(0))).getAbsolutePath)
      val absToRel: Map[String, String] =
        st.active.keys.map(p => resolveAbs(table, p) -> p).toMap
      touchedAbs.map(a => absToRel.getOrElse(a,
        throw new IllegalStateException(s"scanned file $a not in the active set"))).toSet
    }

    val rewriting = touchedRel.nonEmpty && hasMatchedClause

    // rewrite touched files: left-join against the source, apply clauses
    val rewritten: Option[DataFrame] =
      if (!rewriting) None
      else {
        val rows = DeltaRead.readSubset(spark, path, touchedRel).alias("t")
        val marked = rows.join(
          src.withColumn("__s_matched", lit(true)).alias("s"), on, "left")
        val isMatched = col("__s_matched").isNotNull
        // SQL MERGE treats a clause condition evaluating to NULL as NOT
        // satisfied — coalesce both gates to false so a null update
        // condition doesn't poison the delete gate and a null delete
        // condition keeps (not drops) the row
        val updGate = org.apache.spark.sql.functions.coalesce(
          matchedCondition.map(isMatched && _).getOrElse(isMatched), lit(false))
        val delGate = org.apache.spark.sql.functions.coalesce(
          whenMatchedDelete.map { c =>
            // delete applies to matched rows NOT taken by the update clause
            if (whenMatchedUpdate.isDefined) isMatched && !updGate && c
            else isMatched && c
          }.getOrElse(lit(false)), lit(false))
        val projected = marked.filter(!delGate).select(schema.fields.map { f =>
          val base = col("t.`" + f.name.replace("`", "``") + "`")
          whenMatchedUpdate.flatMap(_.get(f.name)) match {
            case Some(e) => when(updGate, e.cast(f.dataType))
              .otherwise(base).cast(f.dataType).as(f.name)
            case None => base.as(f.name)
          }
        }.toSeq: _*)
        Some(projected)
      }

    // inserts: source rows matching NO target row, shaped to the schema
    val inserted: Option[DataFrame] = whenNotMatchedInsert.map { assign =>
      val unmatched = src.join(
        DeltaRead.readDelta(spark, path).alias("t"), on, "left_anti")
      unmatched.select(schema.fields.map { f =>
        assign.get(f.name) match {
          case Some(e) => e.cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }.toSeq: _*)
    }

    val outRows: Option[DataFrame] = (rewritten, inserted) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    val nothingToInsert = inserted.isEmpty ||
      inserted.exists(_.limit(1).collect().isEmpty)
    if (!rewriting && nothingToInsert) return st.version

    val added = outRows.map { r =>
      val (outDf, layoutParts) = forLayout(r, st)
      writeParts(outDf, table, layoutParts)
    }.getOrElse(Seq.empty)
    val removed = if (rewriting) touchedRel.toSeq.sorted else Seq.empty
    if (removed.isEmpty && added.isEmpty) return st.version
    publishCommit(new File(table, "_delta_log"), st.version + 1,
      removes(removed, dataChange = true) ++ added.map(a => SingleAction(add = a)), path)
    st.version + 1
  }

  /** OPTIMIZE-style compaction: bin-pack each partition's small files
    * (and every DV-carrying file, whose dead rows are physically dropped
    * by the rewrite) into ~`targetFileBytes` parts. Rewrites commit with
    * `dataChange=false` — the protocol's marker that the logical table is
    * unchanged, so streaming readers skip the commit. A partition is
    * selected when it has 2+ sub-target files or any DV; a lone
    * already-compacted file is never churned. Pre-compaction versions
    * stay time-travelable until [[vacuum]]. Returns the committed
    * version, or the current one when nothing qualifies.
    *
    * Scale: one distributed rewrite job per selected partition (driver
    * loops over partition GROUPS, bounded by partition count — the same
    * model as the partitioned scan); rows never touch the driver. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val st = DeltaRead.currentState(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no Delta table at $path"))
    DeltaRead.checkProtocol(st, path)
    // compaction never changes the logical table (dataChange=false), so an
    // append-only table may be compacted — delta-spark's OPTIMIZE agrees
    checkWriteProtocol(st, path, appendOnlyOp = true)
    val table = new File(path)

    val groups = st.active.toSeq.groupBy(_._2.pv)
    val selected: Seq[Seq[(String, Long)]] = groups.toSeq.flatMap { case (_, files) =>
      val sized = files.map { case (rel, e) =>
        (rel, new File(resolveAbs(table, rel)).length(), e.dv.isDefined)
      }
      val picks = sized.filter { case (_, sz, dv) => dv || sz < targetFileBytes }
      if (picks.size > 1 || picks.exists(_._3))
        Some(picks.map(p => (p._1, p._2)))
      else None
    }
    if (selected.isEmpty) return st.version

    val actions = selected.flatMap { picks =>
      val rels = picks.map(_._1).toSet
      val nOut = math.max(1,
        math.ceil(picks.map(_._2).sum.toDouble / targetFileBytes).toInt)
      val (outDf, layoutParts) = forLayout(
        DeltaRead.readSubset(spark, path, rels).coalesce(nOut), st)
      val added = writeParts(outDf, table, layoutParts)
      removes(rels.toSeq.sorted, dataChange = false) ++
        added.map(a => SingleAction(add = a.copy(dataChange = false)))
    }
    publishCommit(new File(table, "_delta_log"), st.version + 1, actions, path)
    st.version + 1
  }

  /** Collapse the table's current state into a parquet checkpoint at the
    * latest version (+ `_last_checkpoint` pointer), so replay cost stays
    * bounded as history grows — the standard log-maintenance step.
    * Aged-out JSON prefixes are then safe to delete: [[DeltaRead]] starts
    * from the newest complete checkpoint. Returns the checkpointed
    * version. */
  def checkpoint(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val st = DeltaRead.currentState(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no Delta table at $path"))
    // a table whose protocol demands features this writer doesn't know
    // (e.g. v2Checkpoint, which forbids exactly this classic-parquet
    // checkpoint shape) must refuse rather than write a checkpoint other
    // readers then trust; the data-change content gates (CDF,
    // constraints, invariants) do NOT apply to a metadata-only write
    DeltaRead.checkProtocol(st, path)
    checkWriteProtocol(st, path, appendOnlyOp = true, metadataOnly = true)
    val logDir = new File(new File(path), "_delta_log")
    // the protocol action re-emits the REPLAYED writer requirements
    // verbatim — synthesizing them (the first cut set writerFeatures :=
    // readerFeatures and hardcoded legacy v2) silently downgraded tables
    // with writer-only requirements once the JSON prefix aged out
    val protocol = Protocol(st.minReader, st.minWriter,
      if (st.minReader >= 3) Some(st.readerFeatures.toSeq.sorted) else None,
      if (st.minWriter >= 7) Some(st.writerFeatures.toSeq.sorted) else None)
    val actions = SingleAction(protocol = protocol) +:
      SingleAction(metaData = Metadata(id = tableId(Some(st)), schemaString = st.schemaJson,
        partitionColumns = st.partitionCols, configuration = st.configuration)) +:
      st.active.toSeq.map { case (p, e) =>
        SingleAction(add = Add(p, e.pv, e.size, e.modificationTime, dataChange = false,
          e.stats, e.dv))
      }
    val tmp = Files.createTempDirectory("graft_delta_cp").toFile
    try {
      spark.createDataset(actions)(DeltaActions.encoder).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
      val part = Option(tmp.listFiles()).getOrElse(Array.empty)
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        new File(logDir, f"${st.version}%020d.checkpoint.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    Files.write(new File(logDir, "_last_checkpoint").toPath,
      (DeltaActions.json(LastCheckpoint(st.version, actions.size)) + "\n").getBytes("UTF-8"))
    st.version
  }

  /** Delete data files no longer referenced by the current table version
    * and older than `retentionMs` (default 7 days — the retention window
    * protects readers of recent historical versions and in-flight
    * writers). Returns the deleted paths. The log itself is never
    * touched; time travel to versions whose files were vacuumed will
    * fail at scan time, same as delta-spark. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, path: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    require(retentionMs >= 0, "retentionMs must be >= 0")
    val st = DeltaRead.currentState(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no Delta table at $path"))
    // vacuum trusts the replayed active set absolutely — a table whose
    // protocol demands features this replay doesn't implement (e.g.
    // v2Checkpoint) could hide live add actions from the classic replay,
    // and vacuum would then DELETE referenced data files. Refuse first,
    // like every other verb (vacuumProtocolCheck exists for exactly this).
    DeltaRead.checkProtocol(st, path)
    checkWriteProtocol(st, path, appendOnlyOp = true, metadataOnly = true)
    val table = new File(path)
    val activeAbs = st.active.keys.map(p => new File(resolveAbs(table, p)).getCanonicalPath).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    val logCanon = new File(table, "_delta_log").getCanonicalPath
    def walk(dir: File): Seq[File] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory)
          { if (f.getCanonicalPath == logCanon) Seq.empty else walk(f) }
        else Seq(f)
      }
    // DV sidecars still referenced by an active add's descriptor — an
    // update/compact that purged descriptors leaves orphaned .bin files
    // for vacuum to reap, same as data files
    val activeDvAbs: Set[String] = st.active.values.flatMap { e =>
      e.dv.flatMap(DeletionVectors.sidecarFile(_, table)).map(_.getCanonicalPath)
    }.toSet
    val deleted = walk(table).filter { f =>
      val n = f.getName
      val stale =
        if (n.endsWith(".parquet")) !activeAbs.contains(f.getCanonicalPath)
        else if (n.startsWith("deletion_vector_") && n.endsWith(".bin"))
          !activeDvAbs.contains(f.getCanonicalPath)
        else false
      stale && f.lastModified() < cutoff
    }
    deleted.foreach(_.delete())
    deleted.map(_.getAbsolutePath)
  }

  /** Name/type shape of a schema with per-field METADATA and nullability
    * stripped at every level — schema-equality checks compare structure,
    * not the column-mapping annotations a mapped table's logical schema
    * carries on nested fields (StructField equality includes metadata,
    * which made nested-struct appends into mapped tables false-mismatch). */
  private def shapeOf(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, shapeOf(f.dataType),
        nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = shapeOf(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = shapeOf(m.keyType), valueType = shapeOf(m.valueType),
        valueContainsNull = true)
    case o => o
  }

  /** May `dfT` data be written into a `tableT` column? Identical
    * name/type shape (metadata ignored) AND nullability only TIGHTENS:
    * non-null data into a nullable column is fine, possibly-null data
    * into a column the table declares non-null would falsify the schema
    * contract other readers trust. */
  private def conformsTo(dfT: DataType, tableT: DataType): Boolean = (dfT, tableT) match {
    case (a: StructType, b: StructType) =>
      a.length == b.length && a.fields.zip(b.fields).forall { case (fa, fb) =>
        fa.name == fb.name && conformsTo(fa.dataType, fb.dataType) &&
          (!fa.nullable || fb.nullable)
      }
    case (a: org.apache.spark.sql.types.ArrayType,
          b: org.apache.spark.sql.types.ArrayType) =>
      conformsTo(a.elementType, b.elementType) && (!a.containsNull || b.containsNull)
    case (a: org.apache.spark.sql.types.MapType,
          b: org.apache.spark.sql.types.MapType) =>
      conformsTo(a.keyType, b.keyType) && conformsTo(a.valueType, b.valueType) &&
        (!a.valueContainsNull || b.valueContainsNull)
    case (a, b) => a == b || widens(a, b)
  }

  /** The type-widening lattice this writer implements (the LOSSLESS
    * integer/float core of the Delta `typeWidening` table feature —
    * PROTOCOL.md "Type Widening"): byte → short → int → long and
    * float → double. Everything else (decimal re-scaling, date →
    * timestampNTZ, int → double) refuses — narrower-than-protocol,
    * never wrong. */
  private[sources] def widens(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** ALTER TABLE … CHANGE COLUMN TYPE — type widening as a METADATA-ONLY
    * commit (round 12; delta protocol `typeWidening` table feature): the
    * field's declared type widens per [[widens]], existing files keep
    * their narrower physical type and READERS upcast (Spark 4's parquet
    * readers promote int32→int64 / float→double natively; [[DeltaRead]]
    * requests the table schema). The commit upgrades the protocol to
    * reader/writer features including `typeWidening` and records the
    * protocol's `delta.typeChanges` field metadata, so foreign readers
    * either implement the upcast or refuse loudly — never misread.
    * Column-mapped fields keep their column id / physical name. Returns
    * the committed version. */
  def widenColumn(spark: org.apache.spark.sql.SparkSession, path: String,
      column: String, newType: DataType): Long = {
    val st = DeltaRead.currentState(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no Delta table at $path"))
    DeltaRead.checkProtocol(st, path)
    checkWriteProtocol(st, path, appendOnlyOp = true, metadataOnly = true)
    require(st.schemaJson != null, s"table at $path has no schema to evolve")
    val existing = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    val idx = existing.fieldNames.indexOf(column)
    require(idx >= 0, s"widenColumn: no column '$column' at $path")
    require(!st.partitionCols.contains(column),
      s"widenColumn: '$column' is a partition column — partition values " +
        "are strings in the log; widening them is a rewrite, not an ALTER")
    val old = existing.fields(idx)
    require(widens(old.dataType, newType),
      s"widenColumn: ${old.dataType.simpleString} -> ${newType.simpleString} " +
        "is not a supported lossless widening (byte->short->int->long, " +
        "float->double)")
    // protocol's per-field change record: readers see WHAT widened and
    // can trust older files' narrower physical types
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(old.metadata)
      .putMetadataArray("delta.typeChanges", Array(
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("fromType", old.dataType.typeName)
          .putString("toType", newType.typeName)
          .build()))
      .build()
    val schemaOut = StructType(existing.fields.updated(idx,
      old.copy(dataType = newType, metadata = md)))
    publishCommit(new File(new File(path), "_delta_log"), st.version + 1,
      protocolWith(st, "typeWidening").map(p => SingleAction(protocol = p)).toSeq :+
        newMetadata(st, schemaOut, st.configuration),
      path)
    st.version + 1
  }

  /** ALTER TABLE … ADD COLUMNS — a METADATA-ONLY commit, delta-spark's
    * ALTER TABLE shape: no data file is touched; existing files simply
    * lack the new fields and read back null (parquet by-name / by-id
    * resolution both return null for an absent column). On a
    * COLUMN-MAPPED table each new field gets a fresh column id and a
    * `col-<uuid>` physical name, and `delta.columnMapping.maxColumnId`
    * bumps (PROTOCOL.md "Column Mapping" — ids are never reused). New
    * columns must be nullable: existing rows have no value for them.
    * Returns the committed version. */
  def addColumns(spark: org.apache.spark.sql.SparkSession, path: String,
      cols: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    val st = DeltaRead.currentState(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no Delta table at $path"))
    DeltaRead.checkProtocol(st, path)
    checkWriteProtocol(st, path, appendOnlyOp = true, metadataOnly = true)
    require(st.schemaJson != null, s"table at $path has no schema to evolve")
    val existing = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    val clash = cols.map(_.name).intersect(existing.fieldNames.toSeq)
    require(clash.isEmpty,
      s"addColumns: ${clash.mkString(", ")} already exist at $path")
    val notNullable = cols.filterNot(_.nullable).map(_.name)
    require(notNullable.isEmpty,
      s"addColumns: ${notNullable.mkString(", ")} must be nullable — " +
        "existing files hold no values for a new column")
    val (schemaOut, confOut) =
      if (!DeltaRead.columnMapped(st)) (StructType(existing.fields ++ cols), st.configuration)
      else {
        val maxId0 = st.configuration.get("delta.columnMapping.maxColumnId")
          .map(_.toLong).getOrElse(0L)
        val (evolved, maxId) =
          evolveMapped(existing, StructType(existing.fields ++ cols), maxId0, path)
        (evolved, st.configuration + ("delta.columnMapping.maxColumnId" -> maxId.toString))
      }
    publishCommit(new File(new File(path), "_delta_log"), st.version + 1,
      Seq(newMetadata(st, schemaOut, confOut)), path)
    st.version + 1
  }

  /** The id every metaData action of the table carries: the replayed one,
    * minted only for a new table (or a foreign log that lacks it). */
  private def tableId(st: Option[DeltaRead.LogState]): String =
    st.flatMap(s => Option(s.tableId)).getOrElse(java.util.UUID.randomUUID().toString)

  /** The metaData action of a schema-evolving commit (the table keeps its
    * partitioning). */
  private def newMetadata(st: DeltaRead.LogState, schema: StructType,
      conf: Map[String, String]): SingleAction =
    SingleAction(metaData = Metadata(id = tableId(Some(st)), schemaString = schema.json,
      partitionColumns = st.partitionCols, configuration = conf,
      createdTime = Some(System.currentTimeMillis())))

  /** The protocol action a commit adding the reader+writer table feature
    * `feature` must carry: (3,7) listing the prior reader features (plus
    * `columnMapping` on a mapped table) and the prior writer requirements
    * — a legacy minWriterVersion's implied set, since v7 lists every
    * feature — each plus `feature`, so an upgrade never drops an
    * enforcement. None when both lists already hold `feature`. */
  private[graft] def protocolWith(st: DeltaRead.LogState, feature: String): Option[Protocol] =
    if (st.minReader >= 3 && st.minWriter >= 7 &&
        st.readerFeatures(feature) && st.writerFeatures(feature)) None
    else {
      val reader = (if (st.minReader >= 3) st.readerFeatures else Set.empty[String]) +
        feature ++ (if (DeltaRead.columnMapped(st)) Set("columnMapping") else Set.empty)
      val writer = reader ++
        (if (st.minWriter >= 7) st.writerFeatures else legacyWriterFeatures(st.minWriter))
      Some(Protocol(3, 7, Some(reader.toSeq.sorted), Some(writer.toSeq.sorted)))
    }

  /** Merge a column-mapped table's existing mapped schema with an
    * incoming logical schema (round 11 — the evolution delta-spark
    * performs): fields matching by NAME PATH keep their column id and
    * physical name verbatim; NEW fields (recursively, nested struct
    * fields included) take fresh ids and `col-<uuid>` physical names; a
    * TYPE change on a surviving field refuses (Delta's type-change rules
    * are a separate feature this writer does not implement). Dropped
    * fields simply leave the schema — their ids are never reused because
    * maxColumnId only grows. Returns (mapped schema, new maxColumnId). */
  private[sources] def evolveMapped(existing: StructType, incoming: StructType,
      maxId0: Long, path: String): (StructType, Long) = {
    import org.apache.spark.sql.types._
    // a foreign table may omit maxColumnId from its configuration — the
    // schema's own ids are the authoritative floor (ids must never clash)
    def maxIdIn(dt: DataType): Long = dt match {
      case s: StructType => (0L +: s.fields.toSeq.map { f =>
        val own = if (f.metadata.contains("delta.columnMapping.id"))
          f.metadata.getLong("delta.columnMapping.id") else 0L
        math.max(own, maxIdIn(f.dataType))
      }).max
      case a: ArrayType => maxIdIn(a.elementType)
      case m: MapType => math.max(maxIdIn(m.keyType), maxIdIn(m.valueType))
      case _ => 0L
    }
    var maxId = math.max(maxId0, maxIdIn(existing))
    def fresh(): org.apache.spark.sql.types.Metadata = {
      maxId += 1
      new MetadataBuilder()
        .putLong("delta.columnMapping.id", maxId)
        .putString("delta.columnMapping.physicalName",
          "col-" + java.util.UUID.randomUUID().toString)
        .build()
    }
    // a brand-new subtree: every nested struct field needs its own id
    def freshType(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = freshType(f.dataType),
          metadata = fresh())))
      case a: ArrayType => a.copy(elementType = freshType(a.elementType))
      case m: MapType =>
        m.copy(keyType = freshType(m.keyType), valueType = freshType(m.valueType))
      case o => o
    }
    def mergeType(prev: DataType, inc: DataType, at: String): DataType = (prev, inc) match {
      case (ps: StructType, is: StructType) => walk(ps, is, at)
      case (pa: ArrayType, ia: ArrayType) =>
        ia.copy(elementType = mergeType(pa.elementType, ia.elementType, s"$at.element"))
      case (pm: MapType, im: MapType) =>
        im.copy(keyType = mergeType(pm.keyType, im.keyType, s"$at.key"),
          valueType = mergeType(pm.valueType, im.valueType, s"$at.value"))
      case (p, i) if p == i => i
      // lossless widening on a surviving field (round 12): an OVERWRITE
      // replaces every data file, so the widened declared type holds for
      // all remaining files — no typeChanges record needed here
      case (p, i) if widens(p, i) => i
      case (p, i) => throw new IllegalArgumentException(
        s"column-mapped table at $path: field $at changes type " +
          s"${p.simpleString} -> ${i.simpleString}; only the lossless " +
          "widenings byte->short->int->long / float->double are supported " +
          "(delta typeWidening; see also DeltaWrite.widenColumn)")
    }
    def walk(prev: StructType, inc: StructType, at: String): StructType =
      StructType(inc.fields.map { f =>
        prev.fields.find(_.name == f.name) match {
          case Some(p) =>
            f.copy(dataType = mergeType(p.dataType, f.dataType, s"$at${f.name}"),
              metadata = p.metadata)
          case None =>
            f.copy(dataType = freshType(f.dataType), metadata = fresh())
        }
      })
    (walk(existing, incoming, ""), maxId)
  }

  /** Rename a LOGICAL-named frame to the table's PHYSICAL column names at
    * every nesting level (round 10 — the write half of column mapping)
    * and attach each field's `parquet.field.id` from its
    * `delta.columnMapping.id`, so files written into a column-mapped
    * table read back under BOTH name-mode (physical names) and id-mode
    * (parquet field ids) resolution. The rename is one struct-positional
    * cast, the mirror of [[DeltaRead]]'s physical→logical read cast. */
  private def toPhysical(df: DataFrame,
      schema: StructType): DataFrame = {
    import org.apache.spark.sql.types._
    def phys(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val mb = new MetadataBuilder()
        if (f.metadata.contains("delta.columnMapping.id"))
          mb.putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
        StructField(DeltaRead.physName(f), phys(f.dataType), f.nullable, mb.build())
      })
      case a: ArrayType => a.copy(elementType = phys(a.elementType))
      case m: MapType => m.copy(keyType = phys(m.keyType), valueType = phys(m.valueType))
      case o => o
    }
    val physSchema = phys(schema).asInstanceOf[StructType]
    df.select(schema.fields.zip(physSchema.fields).map { case (lf, pf) =>
      org.apache.spark.sql.functions.col("`" + lf.name.replace("`", "``") + "`")
        .cast(pf.dataType).as(pf.name, pf.metadata)
    }.toSeq: _*)
  }

  /** Physicalize `df` + the partition column names when the table is
    * column-mapped; identity otherwise. Returns (frame to write,
    * partition columns in the FILE-LAYOUT namespace). */
  private def forLayout(df: DataFrame, st: DeltaRead.LogState): (DataFrame, Seq[String]) = {
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    if (!DeltaRead.columnMapped(st)) (df, st.partitionCols)
    else (toPhysical(df, schema),
      st.partitionCols.map(c => DeltaRead.physName(schema(c))))
  }

  /** Stage `df` as parquet parts and move them into the table directory
    * under commit-unique names — hive-style `col=value` dirs when
    * partitioned (partition columns EXCLUDED from the files, the Delta
    * layout), each part returned as its add action (`dataChange` true).
    * The staging dir is removed afterwards. */
  private def writeParts(df: DataFrame, table: File,
      partitionBy: Seq[String]): Seq[Add] = fieldIdLock.synchronized {
    val tmp = Files.createTempDirectory("graft_delta_write").toFile
    // parquet field ids (column-mapping writes attach them as
    // parquet.field.id metadata) must actually land in the footers —
    // scoped set/restore, never a session-lifetime flip. The flag is a
    // SESSION conf (the parquet write support reads SQLConf, not writer
    // options), so concurrent write verbs on one session serialize here:
    // an interleaved set/restore could leave another verb writing with
    // the wrong value or restoring a stale one.
    val fieldIdKey = "spark.sql.parquet.fieldId.write.enabled"
    val priorFieldId = df.sparkSession.conf.getOption(fieldIdKey)
    df.sparkSession.conf.set(fieldIdKey, "true")
    try {
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(tmp.getAbsolutePath)
      val commitUuid = java.util.UUID.randomUUID().toString
      val now = System.currentTimeMillis()
      def walk(dir: File, rel: Seq[String]): Seq[(File, Seq[String])] =
        Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
          if (f.isDirectory) walk(f, rel :+ f.getName)
          else if (f.getName.endsWith(".parquet")) Seq(f -> rel)
          else Seq.empty
        }
      walk(tmp, Seq.empty).sortBy { case (f, rel) => (rel.mkString("/"), f.getName) }
        .zipWithIndex.map { case ((p, rel), i) =>
          val name = f"part-$i%05d-$commitUuid.snappy.parquet"
          val destDir = rel.foldLeft(table)(new File(_, _))
          destDir.mkdirs()
          val dest = new File(destDir, name)
          Files.move(p.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
          val pv: Map[String, String] = rel.map { seg =>
            val eq = seg.indexOf('=')
            require(eq > 0, s"unexpected partition dir segment $seg")
            val raw = unescapeHive(seg.substring(eq + 1))
            seg.substring(0, eq) ->
              (if (raw == "__HIVE_DEFAULT_PARTITION__") null else raw)
          }.toMap
          Add(encodePath((rel :+ name).mkString("/")), pv, dest.length(), now,
            dataChange = true)
        }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      priorFieldId match {
        case Some(v) => df.sparkSession.conf.set(fieldIdKey, v)
        case None => df.sparkSession.conf.unset(fieldIdKey)
      }
    }
  }

  /** Serializes the session-conf set/restore window in [[writeParts]]
    * across all write verbs of this JVM. */
  private val fieldIdLock = new Object

  /** Writer features a legacy minWriterVersion implies (PROTOCOL.md
    * "Writer Version Requirements" — v7 lists features explicitly). */
  private[sources] def legacyWriterFeatures(v: Int): Set[String] = Seq(
    2 -> Set("appendOnly", "invariants"),
    3 -> Set("checkConstraints"),
    4 -> Set("changeDataFeed", "generatedColumns"),
    5 -> Set("columnMapping"),
    6 -> Set("identityColumns")
  ).collect { case (mv, fs) if v >= mv => fs }.flatten.toSet

  /** Writer features whose DECLARATION this writer understands; each has
    * a content-level check below that refuses exactly the tables where
    * the feature demands work this writer would silently skip. */
  private val KnownWriterFeatures = Set(
    "appendOnly", "invariants", "checkConstraints", "generatedColumns",
    "changeDataFeed", "columnMapping", "identityColumns", "deletionVectors",
    "timestampNtz", "vacuumProtocolCheck", "typeWidening")

  /** Refuse writes that would skip an enforcement the table's WRITER
    * protocol declares (PROTOCOL.md: writers must respect
    * minWriterVersion/writerFeatures, not just the reader side) — an
    * unknown feature, an appendOnly table facing a destructive op, CHECK
    * constraints / column invariants / generated or identity columns /
    * change-data-feed this writer does not evaluate. Tables merely
    * CARRYING the feature flags with no such content pass: the flags
    * alone demand nothing of a writer that adds plain data. */
  private[sources] def checkWriteProtocol(st: DeltaRead.LogState, path: String,
      appendOnlyOp: Boolean, metadataOnly: Boolean = false): Unit = {
    val feats =
      if (st.minWriter >= 7) st.writerFeatures else legacyWriterFeatures(st.minWriter)
    val unknown = feats -- KnownWriterFeatures
    require(st.minWriter <= 7 && unknown.isEmpty,
      s"Delta table at $path requires writer " +
        (if (unknown.nonEmpty) s"features ${unknown.toSeq.sorted.mkString("[", ",", "]")}"
         else s"version ${st.minWriter}") +
        " this native writer does not enforce — write it with delta-spark instead")
    // the content gates below guard DATA changes (rows written or
    // logically removed); a metadata-only log write (checkpoint) touches
    // no rows, so CDF/constraints/invariants demand nothing of it —
    // delta-spark checkpoints such tables freely too
    if (metadataOnly) return
    require(appendOnlyOp ||
      st.configuration.getOrElse("delta.appendOnly", "false") != "true",
      s"Delta table at $path is append-only (delta.appendOnly=true); " +
        "delete/update/merge/overwrite are refused")
    val constraints = st.configuration.keys.filter(_.startsWith("delta.constraints."))
    require(constraints.isEmpty,
      s"Delta table at $path declares CHECK constraints " +
        s"${constraints.toSeq.sorted.mkString(", ")} this writer does not " +
        "evaluate — write it with delta-spark instead")
    require(st.configuration.getOrElse("delta.enableChangeDataFeed", "false") != "true",
      s"Delta table at $path has change data feed enabled; this writer " +
        "does not emit cdc actions — write it with delta-spark instead")
    if (st.schemaJson != null) {
      val bad = Seq("delta.invariants", "delta.generationExpression", "delta.identity.start")
      def walk(dt: DataType): Seq[String] = dt match {
        case s: StructType => s.fields.toSeq.flatMap { f =>
          bad.filter(f.metadata.contains).map(k => s"${f.name}: $k") ++ walk(f.dataType)
        }
        case a: org.apache.spark.sql.types.ArrayType => walk(a.elementType)
        case m: org.apache.spark.sql.types.MapType => walk(m.keyType) ++ walk(m.valueType)
        case _ => Seq.empty
      }
      val found = walk(DataType.fromJson(st.schemaJson))
      require(found.isEmpty,
        s"Delta table at $path declares column invariants / generated or " +
          s"identity columns (${found.mkString("; ")}) this writer does not " +
          "enforce — write it with delta-spark instead")
    }
  }

  /** Absolute data-file path of an add action's (percent-encoded)
    * relative path. URLDecoder's '+'→space rule would corrupt a literal
    * '+' (percent-encoding never emits '+'), hence the pre-escape. */
  private def resolveAbs(table: File, p: String): String = {
    val decoded = java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")
    val f = if (decoded.startsWith("/")) new File(decoded) else new File(table, decoded)
    f.getAbsolutePath
  }

  /** Reverse of Spark/Hive's partition-dir escaping (escapePathName) for
    * the `col=value` segments the parquet writer emitted. */
  private def unescapeHive(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** Percent-encode a relative path for an add action (the Delta spec
    * stores URL-encoded paths): spaces, '%', non-ASCII and the hive-escape
    * '%XX' sequences all round-trip through [[DeltaRead]]'s decode. */
  private def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).getRawPath

  /** The commit publisher every write verb routes through — swap it for
    * an object-store implementation to run multi-writer on S3-style
    * storage ([[DeltaLogStore]]); everything else in the writer is
    * storage-agnostic. */
  @volatile var logStore: DeltaLogStore = HardLinkLogStore

  private def publishCommit(logDir: File, version: Long, actions: Seq[SingleAction],
      path: String): Unit =
    logStore.publish(logDir, version, actions.map(DeltaActions.json), path)

  private def removes(paths: Seq[String], dataChange: Boolean): Seq[SingleAction] = {
    val now = System.currentTimeMillis()
    paths.map(p => SingleAction(remove = Remove(p, now, dataChange)))
  }
}
