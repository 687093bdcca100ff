package graft.sources

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType, StringType, StructField, StructType}

/** Native Delta Lake READ — no delta-spark jar required.
  *
  * The Delta transaction log is a PUBLIC protocol (delta.io PROTOCOL.md):
  * `_delta_log/` holds one JSON file of actions per commit
  * (`%020d.json`) plus optional parquet checkpoints (single-part
  * `%020d.checkpoint.parquet` or multi-part
  * `%020d.checkpoint.%010d.%010d.parquet`). Replaying add/remove actions
  * yields the active file set; the latest `metaData` action carries the
  * schema (Spark StructType JSON), partition columns and table
  * configuration. Within a commit, removes reconcile before adds (the
  * protocol's set semantics — a DV-update commit re-adds the same path).
  *
  * Replay is one path for every log: the newest complete checkpoint (at
  * its version) and the commit JSONs above it project to one narrow
  * action frame, and ONE aggregate reconciles it — last-writer-wins per
  * path on (version, isAdd, line), metaData/protocol rows folded in log
  * order — so the driver receives one row per live file and the job
  * count does not grow with the commit count.
  *
  * Protocol support (round 9 extends v1 → v2/v3):
  *   - **Column mapping** (reader v2, or the `columnMapping` feature):
  *     modes `name` and `id` — files are read under the RECURSIVE
  *     physical schema (`delta.columnMapping.physicalName` at every
  *     nesting level) and renamed back to logical names by a
  *     struct-positional cast, which handles nested structs, arrays and
  *     maps in one expression. `partitionValues` keys are physical.
  *   - **Deletion vectors** (reader v3 + `deletionVectors` feature):
  *     each add's descriptor resolves through [[DeletionVectors]]
  *     (u/p/inline storage, the standard 64-bit portable Roaring
  *     layout) to the file's
  *     deleted row positions; the scan attaches
  *     `_metadata.file_path/row_index` and drops marked rows with a
  *     broadcast binary-search filter before any downstream operator.
  *   - Reader-v3 tables gate on the feature list: only
  *     {deletionVectors, columnMapping, timestampNtz,
  *     vacuumProtocolCheck} are accepted; anything else (v2Checkpoint,
  *     type widening, ...) FAILS CLEARLY rather than reading wrongly.
  *
  * Also fails clearly on: non-contiguous logs (aged-out prefix without a
  * covering checkpoint — mid-log replay would silently return a partial
  * table) and time travel to nonexistent versions.
  *
  * Partition columns come from each add action's `partitionValues` —
  * the protocol's authoritative source (directory layout is only a
  * convention) — attached as per-partition literals, one scan per
  * distinct partition tuple, unioned.
  *
  * Scale: the log is bounded by table history and checkpoints collapse
  * it; the reconcile runs on executors and the driver holds only the
  * active-file map. DV bitmaps are per-file and ride one broadcast; the
  * DATA read is a plain pruned parquet scan over the active files.
  * (Reference surface: `read_delta`, backends/pyspark/__init__.py:801.)
  */
object DeltaRead {

  /** One active file's add action: its partitionValues map
    * (authoritative; keys are PHYSICAL names under column mapping), size,
    * modification time, stats JSON and deletion-vector descriptor. */
  private[graft] case class AddEntry(pv: Map[String, String], size: Long,
      modificationTime: Long, stats: Option[String], dv: Option[DeletionVectors.Descriptor])

  private[graft] case class LogState(
    var minReader: Int = 1,
    var minWriter: Int = 1,
    var readerFeatures: Set[String] = Set.empty,
    var writerFeatures: Set[String] = Set.empty,
    var tableId: String = null,
    var schemaJson: String = null,
    var partitionCols: Seq[String] = Seq.empty,
    var configuration: Map[String, String] = Map.empty,
    var version: Long = -1L,
    active: scala.collection.mutable.LinkedHashMap[String, AddEntry] =
      scala.collection.mutable.LinkedHashMap.empty)

  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "timestampNtz", "vacuumProtocolCheck",
      // round 12: the reader requests the table's (widened) schema and
      // Spark 4's parquet readers promote int32→int64 / float→double
      // from older files' narrower physical types natively
      "typeWidening")

  /** Relative paths of the currently active files — the remove set an
    * overwrite commit must publish ([[DeltaWrite]]). */
  def activeFiles(spark: SparkSession, path: String): Seq[String] =
    replay(spark, path, None).active.keys.toSeq

  /** Current table state (version, schema, partition columns) — what a
    * writer must validate against before committing ([[DeltaWrite]]).
    * None when the directory holds no Delta log yet. */
  private[graft] def currentState(spark: SparkSession, path: String): Option[LogState] = {
    val logDir = new File(path, "_delta_log")
    if (!logDir.isDirectory) return None
    val any = Option(logDir.listFiles()).getOrElse(Array.empty)
      .exists(f => f.getName.matches("\\d{20}\\.json") ||
        f.getName.matches("\\d{20}\\.checkpoint(\\.\\d{10}\\.\\d{10})?\\.parquet"))
    if (!any) None else Some(replay(spark, path, None))
  }

  private[sources] def checkProtocol(st: LogState, path: String): Unit = {
    require(st.minReader <= 3,
      s"Delta table at $path requires minReaderVersion=${st.minReader}; " +
        "this native reader implements protocol v1-v3 (column mapping, " +
        "deletion vectors) — read it with delta-spark instead")
    if (st.minReader == 3) {
      val unsupported = st.readerFeatures -- SupportedReaderFeatures
      require(unsupported.isEmpty,
        s"Delta table at $path requires reader features " +
          s"${unsupported.toSeq.sorted.mkString("[", ",", "]")} this native " +
          "reader does not implement — read it with delta-spark instead")
    }
  }

  /** Local filesystem path of a scan's `_metadata.file_path`, which Spark
    * gives URL-encoded (`SparkPath.urlEncoded`): a `%` or space in a
    * directory name (hive-escaped partition values such as `t%09x`)
    * arrives as `%25` / `%20`. Hadoop's `new Path(String)` would quote
    * that `%` again and keep the name encoded. */
  private[sources] def filePathToLocal(fp: String): String =
    org.apache.spark.paths.SparkPath.fromUrlString(fp).toPath.toUri.getPath

  private[sources] def columnMapped(st: LogState): Boolean = {
    val mode = st.configuration.getOrElse("delta.columnMapping.mode", "none")
    mode == "name" || mode == "id"
  }

  private[sources] def physName(f: StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** The schema as stored in the files: every field renamed to its
    * physical name, recursively through structs, arrays and maps. */
  private[sources] def physType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(name = physName(f), dataType = physType(f.dataType))))
    case a: ArrayType => a.copy(elementType = physType(a.elementType))
    case m: MapType =>
      m.copy(keyType = physType(m.keyType), valueType = physType(m.valueType))
    case o => o
  }

  private def colq(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** Read a Delta table at its latest version (or `asOfVersion`). */
  def readDelta(spark: SparkSession, path: String,
      asOfVersion: Option[Long] = None): DataFrame =
    read0(spark, path, asOfVersion, lineage = false)

  /** The live rows plus their physical lineage — `_graft_file` (the
    * scan's file-path URI) and `_graft_pos` (row index within the file):
    * what a DV-writing DELETE needs ([[DeltaWrite.deleteWhere]]). */
  private[sources] def readWithLineage(spark: SparkSession, path: String): DataFrame =
    read0(spark, path, None, lineage = true)

  /** The live (DV-applied) logical rows of just `relPaths` — the rewrite
    * input for copy-on-write UPDATE and OPTIMIZE-style compaction
    * ([[DeltaWrite.updateWhere]] / [[DeltaWrite.compact]]). */
  private[sources] def readSubset(spark: SparkSession, path: String,
      relPaths: Set[String]): DataFrame =
    read0(spark, path, None, lineage = false, onlyFiles = Some(relPaths))

  private def read0(spark: SparkSession, path: String,
      asOfVersion: Option[Long], lineage: Boolean,
      onlyFiles: Option[Set[String]] = None): DataFrame = {
    val st = replay(spark, path, asOfVersion)
    checkProtocol(st, path)
    onlyFiles.foreach { keep =>
      val missing = keep -- st.active.keySet
      require(missing.isEmpty,
        s"readSubset: ${missing.size} requested files not in the active set at $path")
      st.active.filterInPlace((p, _) => keep.contains(p))
    }
    require(st.schemaJson != null, s"Delta log at $path has no metaData action")
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    val mapped = columnMapped(st)

    def resolve(p: String): String = {
      // percent-decode only: URLDecoder's '+'→space rule would corrupt a
      // literal '+' in a path (percent-encoding never emits '+')
      val decoded = java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")
      if (decoded.startsWith("/") || decoded.contains("://")) decoded
      else new File(path, decoded).getAbsolutePath
    }

    if (st.active.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

    // deletion vectors: absolute file path → sorted deleted row indices
    val dvIdx: Map[String, Array[Long]] = st.active.toSeq.flatMap { case (p, e) =>
      e.dv.map(d => new File(resolve(p)).getAbsolutePath ->
        DeletionVectors.readDescriptor(d, new File(path)))
    }.toMap
    val dvFilter: Option[Column] = if (dvIdx.isEmpty) None else {
      val bc = spark.sparkContext.broadcast(dvIdx)
      val deleted = udf { (fp: String, ri: java.lang.Long) =>
        val arr = bc.value.getOrElse(filePathToLocal(fp), null)
        arr != null && ri != null &&
          java.util.Arrays.binarySearch(arr, ri.longValue()) >= 0
      }
      Some(!deleted(col("_metadata.file_path"), col("_metadata.row_index")))
    }

    val dataFields = schema.fields.filterNot(f => st.partitionCols.contains(f.name)).toSeq
    val readSchema =
      if (mapped) physType(StructType(dataFields)).asInstanceOf[StructType]
      else StructType(dataFields)
    // logical partition column → the physicalValues key for its values
    val pvKey: Map[String, String] = schema.fields
      .filter(f => st.partitionCols.contains(f.name))
      .map(f => f.name -> (if (mapped) physName(f) else f.name)).toMap

    def scan(allFiles: Seq[String], pv: Map[String, String]): DataFrame = {
      // files WITHOUT a DV scan clean — no metadata columns, no per-row
      // filter; only DV-carrying files pay for the row-index check.
      // Metadata columns resolve per relation, so the data select (and
      // lineage columns) happen per scan, before the union.
      val (dvFiles, cleanFiles) = allFiles.partition(f =>
        dvIdx.contains(new File(f).getAbsolutePath))
      def scanPart(files: Seq[String], withDv: Boolean): DataFrame = {
        var df = spark.read.schema(readSchema).parquet(files: _*)
        if (withDv) dvFilter.foreach(f => df = df.filter(f))
        // physical → logical rename: a struct-positional cast renames
        // every nesting level in one expression (types are identical, so
        // values pass through unchanged, nulls included)
        val lineageCols =
          if (lineage) Seq(col("_metadata.file_path").as("_graft_file"),
            col("_metadata.row_index").as("_graft_pos"))
          else Seq.empty
        df.select(dataFields.zipWithIndex.map { case (f, i) =>
          val c = colq(readSchema.fields(i).name)
          (if (mapped) c.cast(f.dataType) else c).as(f.name)
        } ++ lineageCols: _*)
      }
      var out =
        if (dvFiles.isEmpty) scanPart(cleanFiles, withDv = false)
        else if (cleanFiles.isEmpty) scanPart(dvFiles, withDv = true)
        else scanPart(cleanFiles, withDv = false)
          .unionByName(scanPart(dvFiles, withDv = true))
      st.partitionCols.foreach { c =>
        val field = schema(c)
        val raw = pv.get(pvKey(c)).orNull
        val v = if (raw == null || raw == "__HIVE_DEFAULT_PARTITION__") lit(null)
                else lit(raw)
        out = out.withColumn(c, v.cast(field.dataType))
      }
      val tail = if (lineage) Seq(col("_graft_file"), col("_graft_pos")) else Seq.empty
      out.select(schema.fieldNames.map(colq).toSeq ++ tail: _*)
    }

    if (st.partitionCols.isEmpty) {
      scan(st.active.keys.toSeq.map(resolve), Map.empty)
    } else {
      // partition values come from the ADD ACTIONS (protocol-authoritative;
      // hive-style dirs are only a convention some writers follow): one
      // scan per distinct partition tuple with literal columns, unioned —
      // bounded by the table's partition count
      val byPartition = st.active.toSeq.groupBy(_._2.pv)
      byPartition.toSeq.map { case (pv, files) =>
        scan(files.map(f => resolve(f._1)), pv)
      }.reduce(_ unionByName _)
    }
  }

  /** Names of multi-part checkpoint files for version v, if complete. */
  private def checkpointFiles(logDir: File, v: Long, files: Array[File]): Option[Seq[File]] = {
    val single = files.find(_.getName == f"$v%020d.checkpoint.parquet")
    if (single.isDefined) return single.map(Seq(_))
    val multi = files.filter(_.getName.matches(f"$v%020d\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
    if (multi.isEmpty) return None
    val total = multi.head.getName
      .replaceAll("^\\d{20}\\.checkpoint\\.\\d{10}\\.(\\d{10})\\.parquet$", "$1").toLong
    if (multi.length.toLong == total) Some(multi.sortBy(_.getName).toSeq) else None
  }

  private def replay(spark: SparkSession, path: String,
      asOfVersion: Option[Long]): LogState = {
    val logDir = new File(path, "_delta_log")
    require(logDir.isDirectory, s"not a Delta table (no _delta_log): $path")
    val all = Option(logDir.listFiles()).getOrElse(Array.empty)

    val commitsAll = all.filter(_.getName.matches("\\d{20}\\.json"))
      .map(f => f.getName.take(20).toLong -> f).sortBy(_._1)
    val checkpointVersions = all
      .flatMap { f =>
        val n = f.getName
        if (n.matches("\\d{20}\\.checkpoint(\\.\\d{10}\\.\\d{10})?\\.parquet"))
          Some(n.take(20).toLong)
        else None
      }.distinct.sorted
    val latestVersion =
      (commitsAll.map(_._1) ++ checkpointVersions).foldLeft(-1L)(math.max)
    require(latestVersion >= 0,
      s"Delta log at $path has no commits")
    asOfVersion.foreach { v =>
      require(v >= 0 && v <= latestVersion,
        s"Delta table at $path has no version $v (latest is $latestVersion) — " +
          "time travel must name an existing version")
    }
    val target = asOfVersion.getOrElse(latestVersion)

    // newest COMPLETE checkpoint at or below the target version
    val checkpoint = checkpointVersions.filter(_ <= target)
      .flatMap(v => checkpointFiles(logDir, v, all).map(v -> _))
      .lastOption
    val commits = commitsAll.filter { case (v, _) =>
      v <= target && checkpoint.forall(v > _._1)
    }

    // contiguity: replaying from mid-log (aged-out prefix without a
    // covering checkpoint) would silently produce a PARTIAL table
    val expectedFrom = checkpoint.map(_._1 + 1).getOrElse(0L)
    val expected = (expectedFrom to target)
    require(commits.map(_._1).toSeq == expected,
      s"Delta log at $path is not contiguous for version $target: " +
        s"need commits ${expectedFrom}..$target" +
        checkpoint.fold(" (no checkpoint found)")(c => s" above checkpoint ${c._1}") +
        s", have ${commits.map(_._1).mkString("[", ",", "]")} — " +
        "aged-out prefix without a covering checkpoint")

    val commitFrame = if (commits.isEmpty) None else Some(actions(
      spark.read.schema(CommitSchema).option("mode", "FAILFAST")
        .json(commits.map(_._2.getAbsolutePath).toIndexedSeq: _*),
      substring(col("_metadata.file_name"), 1, 20).cast("long")))
    val checkpointFrame = checkpoint.map { case (v, files) =>
      actions(spark.read.parquet(files.map(_.getAbsolutePath): _*), lit(v))
    }
    val acts = (checkpointFrame ++ commitFrame).reduce(_ unionByName _)
      // intra-commit line order (partition-local; a commit JSON is one split)
      .withColumn("ord", monotonically_increasing_id())
    // one reconcile for the whole log: file actions last-writer-wins per
    // path on (version, isAdd, ord), so the newest action wins across
    // versions and, within one, an add beats a remove (the protocol's
    // remove-then-re-add DV-update shape) and the last line beats earlier
    // ones; metadata/protocol rows (a handful per log) pass through one
    // each and fold below in log order. The driver receives one row per
    // live file, not every historical action.
    val rows = acts
      .filter(col("path").isNotNull || col("meta"))
      .groupBy(col("path"), when(col("path").isNull, col("ord")))
      .agg(max_by(struct(acts.columns.map(col).toIndexedSeq: _*),
        struct(col("v"), col("isAdd"), col("ord"))).as("w"))
      .select("w.*")
      .filter(col("path").isNull || col("isAdd"))
      .collect()
      .sortBy(r => (r.getAs[Long]("v"), r.getAs[Long]("ord")))

    val st = LogState()
    st.version = target
    rows.foreach { r =>
      def at(f: String): Option[Int] = Some(r.fieldIndex(f)).filterNot(r.isNullAt)
      def strMap(i: Int) = r.getMap[String, String](i).toMap
      at("path") match {
        case Some(i) => st.active.put(r.getString(i), AddEntry(
          at("pv").fold(Map.empty[String, String])(strMap),
          at("size").fold(0L)(r.getLong), at("modificationTime").fold(0L)(r.getLong),
          at("stats").map(r.getString), at("dv").map(j => descriptor(r.getStruct(j)))))
        case None =>
          at("minReader").foreach(i => st.minReader = r.getInt(i))
          at("minWriter").foreach(i => st.minWriter = r.getInt(i))
          at("readerFeatures").foreach(i => st.readerFeatures = r.getSeq[String](i).toSet)
          at("writerFeatures").foreach(i => st.writerFeatures = r.getSeq[String](i).toSet)
          at("tableId").foreach(i => st.tableId = r.getString(i))
          at("schema").foreach(i => st.schemaJson = r.getString(i))
          at("partitionCols").foreach(i => st.partitionCols = r.getSeq[String](i))
          at("conf").foreach(i => st.configuration = strMap(i))
      }
    }
    st
  }

  /** Commit JSONs parse straight into the protocol's action schema, the
    * one the writer's commit lines and checkpoint rows come from, with no
    * schema-inference pass. */
  private val CommitSchema = DeltaActions.schema

  /** Project a frame of log actions — commit JSONs under [[CommitSchema]]
    * or a checkpoint parquet under whatever schema its writer used — to
    * the one narrow action row replay reconciles. Fields are matched by
    * name and missing ones read null; string maps stored as structs
    * (JSON-inferred checkpoints) become maps. */
  private def actions(df: DataFrame, version: Column): DataFrame = {
    def typeOf(path: String): Option[DataType] =
      path.split('.').foldLeft(Option[DataType](df.schema)) {
        case (Some(s: StructType), name) => s.find(_.name == name).map(_.dataType)
        case _ => None
      }
    def get(path: String, to: DataType): Column = (typeOf(path), to) match {
      case (None, _) => lit(null).cast(to)
      case (Some(_: StructType), m: MapType) => from_json(to_json(col(path)), m)
      case (Some(_), s: StructType) => when(col(path).isNotNull,
        struct(s.fields.toIndexedSeq.map(f => get(s"$path.${f.name}", f.dataType).as(f.name)): _*))
      case _ => col(path).cast(to)
    }
    def present(path: String): Column =
      if (typeOf(path).isDefined) col(path).isNotNull else lit(false)
    val strMap = MapType(StringType, StringType)
    val addPath = get("add.path", StringType)
    df.select(
      version.as("v"),
      coalesce(addPath, get("remove.path", StringType)).as("path"),
      addPath.isNotNull.as("isAdd"),
      get("add.partitionValues", strMap).as("pv"),
      get("add.size", LongType).as("size"),
      get("add.modificationTime", LongType).as("modificationTime"),
      get("add.stats", StringType).as("stats"),
      get("add.deletionVector", DvSchema).as("dv"),
      (present("metaData") || present("protocol")).as("meta"),
      get("protocol.minReaderVersion", IntegerType).as("minReader"),
      get("protocol.minWriterVersion", IntegerType).as("minWriter"),
      get("protocol.readerFeatures", ArrayType(StringType)).as("readerFeatures"),
      get("protocol.writerFeatures", ArrayType(StringType)).as("writerFeatures"),
      get("metaData.id", StringType).as("tableId"),
      get("metaData.schemaString", StringType).as("schema"),
      get("metaData.partitionColumns", ArrayType(StringType)).as("partitionCols"),
      get("metaData.configuration", strMap).as("conf"))
  }

  private val DvSchema = Encoders.product[DeletionVectors.Descriptor].schema

  /** An `add.deletionVector` struct (fields as in [[DvSchema]]) → its
    * descriptor; a descriptor without storage type, payload or size is
    * an IllegalArgumentException. */
  private def descriptor(d: Row): DeletionVectors.Descriptor = {
    def opt(f: String): Option[Int] = Some(d.fieldIndex(f)).filterNot(d.isNullAt)
    def req(f: String): Int = opt(f).getOrElse(throw new IllegalArgumentException(
      s"deletionVector descriptor missing '$f': $d"))
    DeletionVectors.Descriptor(d.getString(req("storageType")),
      d.getString(req("pathOrInlineDv")), opt("offset").map(d.getInt),
      d.getInt(req("sizeInBytes")), opt("cardinality").fold(-1L)(d.getLong))
  }
}
