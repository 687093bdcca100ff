package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sort key with ibis's null-ordering defaults: ascending puts nulls LAST
  * (ibis SortKey.nulls_first=False, ibis/expr/operations/sortkeys.py:16-41),
  * whereas Spark's plain asc is nulls-first — so we always emit an explicit
  * null ordering. */
final case class SortKey(col: Column, ascending: Boolean = true, nullsFirst: Boolean = false) {
  def spark: Column = (ascending, nullsFirst) match {
    case (true, false)  => col.asc_nulls_last
    case (true, true)   => col.asc_nulls_first
    case (false, false) => col.desc_nulls_last
    case (false, true)  => col.desc_nulls_first
  }
}

object SortKey {
  def asc(c: Column): SortKey = SortKey(c, ascending = true)
  def desc(c: Column): SortKey = SortKey(c, ascending = false)
}

/** The single relational abstraction, mirroring ibis `Table`
  * (ibis/expr/operations/relations.py:36 — tables of named typed columns are
  * the only collection type). Thin, immutable façade over a Spark
  * `DataFrame`: every verb is a declarative plan transformation, so Catalyst
  * keeps full pushdown/pruning/join-strategy freedom — this is the Spark-first
  * replacement for ibis's expression-graph + SQL transpilation pipeline
  * (SURVEY.md §3.2).
  */
final class Table(val df: DataFrame) {
  import Table._

  def spark: SparkSession = df.sparkSession
  def schema = df.schema
  def columns: Seq[String] = df.columns.toSeq

  /** Eager ibis-style validation (expr/operations/relations.py:276-292
    * raises IbisTypeError/IntegrityError at EXPRESSION BUILD time, before
    * any backend round-trip): name-taking verbs pre-check membership and
    * raise a message listing what exists, instead of deferring to a Spark
    * AnalysisException at action time. Pure driver-side set membership —
    * no analysis pass, no job. */
  private def requireColumns(verb: String, names: Seq[String]): Unit = {
    val have = df.columns.toSet
    val missing = names.filterNot(have)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"$verb: column${if (missing.size > 1) "s" else ""} " +
          missing.mkString("'", "', '", "'") +
          s" not found; existing columns: ${df.columns.mkString(", ")}")
  }

  // ------------------------------------------------------------ projection

  /** ibis Table.select (expr/types/relations.py:2449). */
  def select(cols: Column*): Table = new Table(df.select(cols: _*))
  def selectNames(names: String*): Table = {
    requireColumns("select", names)
    new Table(df.select(names.map(df.col): _*))
  }

  /** ibis Table.mutate (relations.py:2340): add/replace derived columns.
    * ONE withColumns pass, not a withColumn fold: the fold re-analyzes the
    * plan per column — O(cols²) analysis that crawls on 500-column
    * featurization mutates. Also matches ibis semantics exactly: every
    * expression is resolved against the INPUT table (simultaneous), not
    * against the previous column's output. ListMap keeps output column
    * order deterministic. */
  def mutate(cols: (String, Column)*): Table =
    new Table(df.withColumns(scala.collection.immutable.ListMap(cols: _*)))

  /** ibis DropColumns (operations/relations.py:149 — unknown names raise,
    * unlike Spark's silently-ignoring drop). */
  def dropColumns(names: String*): Table = {
    requireColumns("drop", names)
    new Table(df.drop(names: _*))
  }

  /** ibis Table.rename (relations.py:2646 — renaming a missing column
    * raises, unlike Spark's silently-no-op withColumnRenamed). */
  def rename(pairs: (String, String)*): Table = {
    requireColumns("rename", pairs.map(_._1))
    new Table(pairs.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) })
  }

  /** ibis Table.cast / try_cast (relations.py): re-type columns in place by
    * (name → type-DDL string); unlisted columns pass through. */
  def castColumns(types: Map[String, String], strict: Boolean = true): Table = {
    requireColumns("cast", types.keys.toSeq)
    new Table(df.select(df.columns.map { c =>
      types.get(c) match {
        case Some(t) if strict => df.col(c).cast(t).as(c)
        case Some(t)           => try_cast_col(df.col(c), t).as(c)
        case None              => df.col(c)
      }
    }.toIndexedSeq: _*))
  }

  private def try_cast_col(c: Column, t: String): Column = c.try_cast(t)

  /** ibis Table.relocate (relations.py:5010): move columns to the front, or
    * before/after an anchor column. */
  def relocate(names: String*): Table = relocateImpl(names, None, after = false)
  def relocateBefore(anchor: String, names: String*): Table =
    relocateImpl(names, Some(anchor), after = false)
  def relocateAfter(anchor: String, names: String*): Table =
    relocateImpl(names, Some(anchor), after = true)

  private def relocateImpl(names: Seq[String], anchor: Option[String], after: Boolean): Table = {
    requireColumns("relocate", names ++ anchor)
    val rest = df.columns.filterNot(names.contains).toSeq
    val ordered = anchor match {
      case None => names ++ rest
      case Some(a) =>
        require(rest.contains(a), s"anchor $a missing or being moved")
        rest.flatMap { c =>
          if (c == a) { if (after) c +: names else names :+ c }
          else Seq(c)
        }
    }
    new Table(df.select(ordered.map(df.col): _*))
  }

  // ------------------------------------------------------------- filtering

  /** ibis Filter: conjunctive predicates (operations/relations.py:271). */
  def filter(preds: Column*): Table = new Table(df.filter(preds.reduce(_ && _)))

  /** ibis Limit with offset (operations/relations.py:296). */
  def limit(n: Int, offset: Int = 0): Table =
    if (offset == 0) new Table(df.limit(n)) else new Table(df.offset(offset).limit(n))

  /** ibis Table.head. */
  def head(n: Int = 5): Table = limit(n)

  /** ibis Distinct (operations/relations.py:494). */
  def distinct(): Table = new Table(df.distinct())

  /** ibis Table.distinct(on=…, keep=…) (relations.py): keep = "first"/"last"
    * pick one row per key by `orderBy` (a window rank — deterministic and
    * fully distributed); keep = "any" is dropDuplicates (arbitrary row, no
    * sort — cheapest); keep = "none" drops every duplicated row entirely. */
  def distinctOn(subset: Seq[String], keep: String = "any",
      orderBy: Seq[SortKey] = Seq.empty): Table = {
    requireColumns("distinct(on=…)", subset)
    keep match {
    case "any" => new Table(df.dropDuplicates(subset))
    case "none" =>
      val w = Window.partitionBy(subset.map(df.col): _*)
      new Table(df.withColumn("__cnt", count(lit(1)).over(w))
        .filter(col("__cnt") === 1).drop("__cnt"))
    case "first" | "last" =>
      require(orderBy.nonEmpty, s"keep=$keep needs orderBy for a deterministic pick")
      val keys = orderBy.map(k => if (keep == "last") k.copy(ascending = !k.ascending) else k)
      val w = Window.partitionBy(subset.map(df.col): _*).orderBy(keys.map(_.spark): _*)
      new Table(df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn"))
    case other => throw new IllegalArgumentException(s"keep=$other")
  }
  }

  /** ibis Sample (operations/relations.py:485) — row method lowers to a
    * rand() filter on engines without TABLESAMPLE (rewrites.py:618-659). */
  def sample(fraction: Double, seed: Option[Long] = None): Table =
    new Table(seed.fold(df.sample(fraction))(s => df.sample(fraction, s)))

  /** ibis Sample(method="block"): whole-split sampling via TABLESAMPLE —
    * skips entire input splits instead of filtering rows, so a 1% block
    * sample of 100 TB reads ~1 TB. Routed through SQL text (the DataFrame
    * API has no TABLESAMPLE). */
  def sampleBlock(percent: Double, alias: String = ""): Table = {
    // unique per call: a fixed default name made two concurrent callers in
    // one session clobber each other's view
    val name = if (alias.nonEmpty) alias
      else "__graft_block_sample_" + java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceTempView(name)
    // spark.sql analyzes eagerly (Dataset.ofRows asserts analysis), so the
    // temp view can be dropped as soon as the frame exists
    val out = df.sparkSession.sql(s"SELECT * FROM $name TABLESAMPLE ($percent PERCENT)")
    if (alias.isEmpty) df.sparkSession.catalog.dropTempView(name)
    new Table(out)
  }

  /** ibis FillNull (operations/relations.py:470). */
  def fillNull(replacements: Map[String, Any]): Table = new Table(df.na.fill(replacements))

  /** ibis DropNull(how, subset) (operations/relations.py:477). */
  def dropNull(how: String = "any", subset: Option[Seq[String]] = None): Table =
    new Table(subset.fold(df.na.drop(how))(s => df.na.drop(how, s)))

  // --------------------------------------------------------------- sorting

  /** ibis Sort (operations/relations.py:260) with ibis null-ordering. */
  def sort(keys: SortKey*): Table = new Table(df.orderBy(keys.map(_.spark): _*))
  def orderBy(cols: Column*): Table = sort(cols.map(SortKey.asc): _*)

  /** Total-order sort of a provably BOUNDED result — one whose row count
    * is fixed by group-key domains (nations × segments, flag values…),
    * not by the input SF. Coalescing to a single partition first makes
    * the plan SinglePartition, which already satisfies the sort's
    * required distribution: Spark then plans one local SortExec instead
    * of a RangePartitioning Exchange plus its range-bounds sampling pass
    * (two scheduler round-trips per query at any scale). Same rows, same
    * total order as [[sort]]. NOT for results that grow with the input —
    * a single task would then sort the whole output. */
  def sortBounded(keys: SortKey*): Table =
    new Table(df.coalesce(1).sortWithinPartitions(keys.map(_.spark): _*))

  // ----------------------------------------------------------- aggregation

  /** ibis GroupedTable (ibis/expr/types/groupby.py). */
  def groupBy(keys: Column*): GroupedTable = new GroupedTable(df, keys)
  def groupByNames(names: String*): GroupedTable = {
    requireColumns("group_by", names)
    new GroupedTable(df, names.map(df.col))
  }

  /** Ungrouped aggregation → 1-row table. */
  def aggregate(metrics: Column*): Table = new Table(df.agg(metrics.head, metrics.tail: _*))

  /** ibis Table.count (relations.py:3038) as a deferred 1-row relation. */
  def countTable(): Table = aggregate(count(lit(1)).as("count"))

  /** ibis Table.nunique (relations.py:2995). */
  def nunique(col: Column): Table = aggregate(countDistinct(col).as("nunique"))

  /** ibis value_counts (relations.py:5247). The count column is named
    * `<cols>_count` like the reference; expression inputs (whose toString
    * is e.g. `lower(x)`) are sanitized to identifier characters so the
    * output name carries no paren/backtick hazards. */
  def valueCounts(cols: Column*): Table = {
    val named = cols.map { c =>
      val raw = c.toString
      if (raw.matches("[A-Za-z_][A-Za-z0-9_]*")) raw
      else raw.replaceAll("[^A-Za-z0-9_]+", "_").replaceAll("^_+|_+$", "")
    }
    new Table(df.groupBy(cols: _*).agg(count(lit(1)).as(named.mkString("_") + "_count")))
  }

  /** ibis topk (relations.py:5320): group-count-sort-limit, fully
    * distributed (no driver collect — SURVEY.md §7.4). */
  def topk(by: Column, k: Int, name: String = "count"): Table =
    new Table(
      df.groupBy(by).agg(count(lit(1)).as(name))
        .orderBy(col(name).desc_nulls_last, by.asc_nulls_last)
        .limit(k))

  // ----------------------------------------------------------------- joins

  /** ibis JoinChain link (operations/relations.py:195-257). Supported kinds:
    * inner/left/right/outer/cross/semi/anti (JoinKind :201-213). */
  def join(right: Table, on: Column, how: String = "inner"): Table = {
    val sparkHow = how match {
      case "semi" => "left_semi"
      case "anti" => "left_anti"
      case h      => h
    }
    new Table(df.join(right.df, on, sparkHow))
  }

  def crossJoin(right: Table): Table = new Table(df.crossJoin(right.df))

  /** ibis-style equi-join with the reference's output-column policy
    * (ibis/expr/types/joins.py:34-111): a right join key that is in the same
    * equality class as a left key of the SAME name is dropped (inner joins —
    * the values are provably equal); remaining name collisions are resolved
    * by the `lname`/`rname` templates ("" = keep unchanged, `{name}`
    * interpolates); a collision surviving BOTH templates raises, like the
    * reference's IntegrityError. */
  def joinOn(right: Table, keys: Seq[(String, String)], how: String = "inner",
      rname: String = "{name}_right", lname: String = ""): Table = {
    val l = df
    val r = right.df
    val cond = keys.map { case (lk, rk) => l.col(lk) === r.col(rk) }.reduce(_ && _)
    val kind = how match {
      case "semi" => "left_semi"
      case "anti" => "left_anti"
      case h      => h
    }
    val joined = l.join(r, cond, kind)
    if (kind == "left_semi" || kind == "left_anti") new Table(joined)
    else {
      val droppedRightKeys =
        if (kind == "inner")
          keys.collect { case (lk, rk) if lk == rk => rk }.toSet
        else Set.empty[String] // outer joins: key values can differ (nulls) — keep both
      new Table(Table.renamedJoinOutput(l, r, joined, droppedRightKeys, lname, rname))
    }
  }

  /** ClickHouse-style any_left/any_inner join (SURVEY.md §2.1): at most one
    * right match per row — right side deduped by row_number()==1 first.
    * Output collisions follow the same lname/rname policy as [[joinOn]]. */
  def anyJoin(right: Table, leftKeys: Seq[String], rightKeys: Seq[String], how: String,
      orderCols: Seq[String] = Seq.empty,
      rname: String = "{name}_right", lname: String = ""): Table = {
    val ord = if (orderCols.nonEmpty) orderCols else rightKeys
    val w = Window.partitionBy(rightKeys.map(right.df.col): _*).orderBy(ord.map(right.df.col): _*)
    val dedup = right.df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    val cond = leftKeys.zip(rightKeys).map { case (l, r) => df.col(l) === dedup.col(r) }.reduce(_ && _)
    val kind = if (how == "any_left") "left" else "inner"
    val droppedRightKeys =
      if (kind == "inner") leftKeys.zip(rightKeys).collect { case (lk, rk) if lk == rk => rk }.toSet
      else Set.empty[String]
    new Table(Table.renamedJoinOutput(df, dedup, df.join(dedup, cond, kind),
      droppedRightKeys, lname, rname))
  }

  /** Positional join (SURVEY.md §2.1 `positional`): align rows by position
    * via zipWithIndex on both sides. Requires deterministic input order —
    * callers sort first. */
  def positionalJoin(right: Table): Table = {
    val l = withRowIndex(df, "__pos")
    val r = withRowIndex(right.df, "__pos_r")
    new Table(l.join(r, l.col("__pos") === r.col("__pos_r"), "inner").drop("__pos", "__pos_r"))
  }

  /** As-of join — see graft.operators.AsofJoin for the implementation. */
  def asofJoin(
      right: Table,
      leftOn: Column,
      rightOn: Column,
      by: Seq[(String, String)] = Seq.empty,
      tolerance: Option[String] = None,
      lname: String = "",
      rname: String = "{name}_right",
      direction: String = "backward"): Table =
    new Table(graft.operators.AsofJoin(df, right.df, leftOn, rightOn, by, tolerance,
      lname, rname, direction = direction))

  // --------------------------------------------------------------- set ops

  /** ibis Union (operations/relations.py:368-379) — schema-aligned by name. */
  def union(other: Table, distinct: Boolean = false): Table = {
    val u = df.unionByName(other.df)
    new Table(if (distinct) u.distinct() else u)
  }
  def intersect(other: Table, distinct: Boolean = true): Table =
    new Table(if (distinct) df.intersect(other.df) else df.intersectAll(other.df))
  def difference(other: Table, distinct: Boolean = true): Table =
    new Table(if (distinct) df.except(other.df) else df.exceptAll(other.df))

  // ------------------------------------------------------------- reshaping

  /** ibis TableUnnest (operations/relations.py:499-520): cross-join unnest
    * of an array column with optional position and keep-empty. */
  def unnest(column: String, offset: Option[String] = None, keepEmpty: Boolean = false): Table = {
    requireColumns("unnest", Seq(column))
    val arr = df.col(column)
    val exploded = (offset, keepEmpty) match {
      case (Some(off), true)  => df.select(col("*"), posexplode_outer(arr).as(Seq(off, s"__u_$column")))
      case (Some(off), false) => df.select(col("*"), posexplode(arr).as(Seq(off, s"__u_$column")))
      case (None, true)       => df.select(col("*"), explode_outer(arr).as(s"__u_$column"))
      case (None, false)      => df.select(col("*"), explode(arr).as(s"__u_$column"))
    }
    new Table(exploded.drop(column).withColumnRenamed(s"__u_$column", column))
  }

  /** ibis unpack (relations.py:3262): struct column → top-level columns. */
  def unpack(column: String): Table = {
    requireColumns("unpack", Seq(column))
    df.schema(column).dataType match {
      case _: org.apache.spark.sql.types.StructType => ()
      case other => throw new IllegalArgumentException(
        s"unpack: column '$column' is ${other.simpleString}, expected struct")
    }
    val fields = df.schema(column).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val cols = df.columns.filterNot(_ == column).map(df.col) ++
      fields.map(f => df.col(column).getField(f.name).as(f.name))
    new Table(df.select(cols.toIndexedSeq: _*))
  }

  /** ibis pivot_wider (relations.py:4540) → groupBy().pivot().agg(). */
  def pivotWider(keys: Seq[String], namesFrom: String, valuesFrom: Column, agg: Column => Column,
      values: Seq[Any] = Seq.empty): Table = {
    val g = df.groupBy(keys.map(df.col): _*)
    val p = if (values.nonEmpty) g.pivot(namesFrom, values) else g.pivot(namesFrom)
    new Table(p.agg(agg(valuesFrom)))
  }

  /** ibis pivot_longer (relations.py:4209): columns → (name, value) rows via
    * stack, the unnest-of-struct-array lowering. */
  def pivotLonger(idCols: Seq[String], valueCols: Seq[String],
      namesTo: String = "name", valuesTo: String = "value"): Table = {
    val stackArgs = valueCols.map(c => s"'$c', `$c`").mkString(", ")
    val stacked = df.selectExpr(
      (idCols :+ s"stack(${valueCols.size}, $stackArgs) as (`$namesTo`, `$valuesTo`)"): _*)
    new Table(stacked)
  }

  // ------------------------------------------------------------------ misc

  /** ibis RowID (expr/operations/generic.py:25) — 0-based physical row id;
    * the reference's pyspark backend refuses it. Deterministic and
    * contiguous for the CURRENT row order (zipWithIndex, one extra pass) —
    * callers who need a stable id across runs should sort first, same
    * caveat as the reference's other backends. */
  def withRowId(name: String = "rowid"): Table =
    new Table(Table.withRowIndex(df, name))

  /** ibis Table.cache (relations.py:4133). */
  def cache(): Table = new Table(df.cache())

  /** Bucketed catalog table (hash-bucketed by `keys` into `buckets` files
    * per partition, sorted within buckets): two tables bucketed the same
    * way equi-join WITHOUT a shuffle — the co-located join layout for
    * repeatedly-joined 100 TB fact tables. Catalyst drops both exchanges
    * (and both sorts, with sortBy) from the SortMergeJoin. */
  def toBucketedTable(name: String, buckets: Int, keys: String*): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(name)

  /** Arrow IPC export — the Scala-native answer to the reference's
    * to_pyarrow/to_pandas (backends/pyspark/__init__.py:250-320): the
    * result as an Arrow stream any pyarrow/polars/duckdb client opens
    * directly. Bounded results only — see [[graft.interop.ArrowExport]]. */
  def toArrowFile(path: String, maxRecordsPerBatch: Int = 10000): Long =
    graft.interop.ArrowExport.toArrowFile(df, path, maxRecordsPerBatch)
  /** Random-access `ARROW1` IPC file layout (pyarrow `new_file` /
    * Feather v2); [[Table.fromArrowFile]] reads either layout back. */
  def toArrowIpcFile(path: String, maxRecordsPerBatch: Int = 10000): Long =
    graft.interop.ArrowExport.toArrowIpcFile(df, path, maxRecordsPerBatch)
  def toArrowBytes(maxRecordsPerBatch: Int = 10000): Array[Byte] =
    graft.interop.ArrowExport.toArrowStreamBytes(df, maxRecordsPerBatch)

  /** ibis to_delta (backends/pyspark/__init__.py:954) — native
    * single-writer commit for rename-atomic filesystems; returns the
    * committed version. See [[graft.sources.DeltaWrite]]. */
  def toDelta(path: String,
      mode: org.apache.spark.sql.SaveMode = org.apache.spark.sql.SaveMode.Overwrite,
      partitionBy: Seq[String] = Seq.empty): Long =
    graft.sources.DeltaWrite.toDelta(df, path, mode, partitionBy)

  /** ibis to_parquet / to_csv / to_json (+ ORC)
    * (backends/pyspark/__init__.py:993,1411). */
  def toParquet(path: String): Unit = df.write.mode("overwrite").parquet(path)
  def toCsv(path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)
  def toJson(path: String): Unit = df.write.mode("overwrite").json(path)
  def toOrc(path: String): Unit = df.write.mode("overwrite").orc(path)

  /** `ibis.to_sql` on a FLUENT-composed table (reference
    * `ibis/expr/sql.py:to_sql`, re-exported at the top level): decompile
    * this table's analyzed plan into the walkable [[SqlOp]] tree and
    * render it as SQL text in the given dialect ("spark" | "duckdb").
    * Covers the relational core (relation/project/filter/aggregate/join/
    * sort/limit/distinct/set-op/window); anything outside REFUSES
    * ([[PlanDecompile.Refused]]) — and every successful render is
    * verified against this plan (optimized-plan `sameResult` + schema),
    * so the returned SQL is never silently wrong. */
  def renderSql(dialect: String = "spark"): String =
    PlanDecompile.renderSql(df, dialect)

  /** The decompiled [[SqlOp]] tree of this table's analyzed plan — the
    * walkable/rewritable intermediate [[renderSql]] renders. Throws
    * [[PlanDecompile.Refused]] outside the relational core. */
  def toSqlOp: SqlOp = PlanDecompile.decompile(df)

  /** ibis Table.alias + .sql (relations.py:3957,4004): run SQL against this
    * table under a name — Spark-native via temp view. */
  def sql(query: String, alias: String): Table = {
    df.createOrReplaceTempView(alias)
    new Table(df.sparkSession.sql(query))
  }

  /** ibis InSubquery (operations/subqueries.py:65): membership against a
    * 1-column relation — left-semi join, never a driver collect
    * (SURVEY.md §7.4: 100 TB safe). */
  def inSubquery(expr: Column, sub: DataFrame): Table = {
    val c = sub.columns.head
    // no distinct() on the subquery side: left-semi already has
    // at-most-one-match semantics, deduping first would just add a shuffle
    new Table(df.join(sub.select(col(c)), expr === sub(c), "left_semi"))
  }

  /** SQL `NOT IN (subquery)` three-valued semantics: a row survives only if
    * it matches NO subquery row AND neither side's comparison is unknown —
    * any NULL in the subquery empties the result, a NULL probe never
    * qualifies. The condition is written in the exact
    * `l = r OR isnull(l = r)` shape Catalyst recognizes as a single-column
    * null-aware anti join (planned as a broadcast-hash NAAJ, not a nested
    * loop). */
  def notInSubquery(expr: Column, sub: DataFrame): Table = {
    val c = sub(sub.columns.head)
    new Table(df.join(sub, expr === c || isnull(expr === c), "left_anti"))
  }

  /** ibis Table.describe (relations.py:3408): one row per column with
    * count / nulls / unique and numeric moments+quantiles. Single
    * aggregation pass over the table. `unique` is approx_count_distinct by
    * default — exact per-column distincts plan an Expand that multiplies the
    * scan by the column count, a scale-killer on wide 100 TB tables, and
    * ibis describe semantics don't promise exactness; pass
    * `exactUnique = true` to get the exact (expensive) counts. */
  def describe(exactUnique: Boolean = false): Table = {
    import org.apache.spark.sql.types._
    val fields = df.schema.fields
    def m(f: StructField, what: String) = s"${f.name}__$what"
    val aggs = Seq(count(lit(1)).as("__total")) ++ fields.flatMap { f =>
      val c = df.col(f.name)
      val uniq = if (exactUnique) countDistinct(c) else approx_count_distinct(c)
      val base = Seq(count(c).as(m(f, "count")), uniq.as(m(f, "unique")))
      val numeric = f.dataType match {
        case _: NumericType => Seq(
          avg(c.cast("double")).as(m(f, "mean")),
          stddev_samp(c.cast("double")).as(m(f, "std")),
          min(c.cast("double")).as(m(f, "min")),
          percentile(c.cast("double"), lit(0.25)).as(m(f, "p25")),
          percentile(c.cast("double"), lit(0.5)).as(m(f, "p50")),
          percentile(c.cast("double"), lit(0.75)).as(m(f, "p75")),
          max(c.cast("double")).as(m(f, "max")))
        case _ => Seq.empty
      }
      base ++ numeric
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = fields.map { f =>
      val isNum = f.dataType.isInstanceOf[NumericType]
      def num(what: String) =
        if (isNum) round(col(m(f, what)), 6) else lit(null).cast("double")
      struct(
        lit(f.name).as("name"), lit(f.dataType.simpleString).as("type"),
        col(m(f, "count")).as("count"), (col("__total") - col(m(f, "count"))).as("nulls"),
        col(m(f, "unique")).as("unique"), num("mean").as("mean"), num("std").as("std"),
        num("min").as("min"), num("p25").as("p25"), num("p50").as("p50"),
        num("p75").as("p75"), num("max").as("max"))
    }
    new Table(one.select(inline(array(rows: _*))))
  }

  /** ibis Table.info (relations.py:3360): per-column name/type/nullable/
    * null counts/null fraction/position. */
  def info(): Table = {
    val fields = df.schema.fields
    val aggs = Seq(count(lit(1)).as("__total")) ++
      fields.map(f => count(df.col(f.name)).as(s"${f.name}__nn"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = fields.zipWithIndex.map { case (f, i) =>
      val nn = col(s"${f.name}__nn")
      struct(
        lit(f.name).as("name"), lit(f.dataType.simpleString).as("type"),
        lit(f.nullable).as("nullable"), (col("__total") - nn).as("nulls"),
        nn.as("non_nulls"),
        round((col("__total") - nn).cast("double") / col("__total"), 6).as("null_frac"),
        lit(i).as("pos"))
    }
    new Table(one.select(inline(array(rows: _*))))
  }
}

object Table {
  def apply(df: DataFrame): Table = new Table(df)

  /** ibis read_parquet (backends/pyspark/__init__.py:838). */
  def readParquet(spark: SparkSession, path: String): Table = new Table(spark.read.parquet(path))
  def readCsv(spark: SparkSession, path: String, header: Boolean = true): Table =
    new Table(spark.read.option("header", header.toString).option("inferSchema", "true").csv(path))
  def readJson(spark: SparkSession, path: String): Table = new Table(spark.read.json(path))
  /** ORC — native in spark-sql (the DuckDB reference backend's extra-format
    * role; kafka needs its connector jar on the cluster classpath). */
  def readOrc(spark: SparkSession, path: String): Table = new Table(spark.read.orc(path))

  /** ibis read_delta (backends/pyspark/__init__.py:801) — native
    * transaction-log replay for protocol-v1 tables, no delta-spark jar
    * needed for the read side; see [[graft.sources.DeltaRead]]. */
  def readDelta(spark: SparkSession, path: String,
      asOfVersion: Option[Long] = None): Table =
    new Table(graft.sources.DeltaRead.readDelta(spark, path, asOfVersion))

  /** Arrow IPC import — `ibis.memtable(pyarrow.Table)` / the Arrow-first
    * ingest half of the reference's interop contract
    * (expr/operations/relations.py:420-424, formats/pyarrow.py): a frame
    * written by pyarrow / polars / duckdb / [[Table.toArrowFile]] becomes
    * a queryable (broadcastable) relation with no parquet detour.
    * Bounded frames only — see [[graft.interop.ArrowImport]]. */
  def fromArrowFile(spark: SparkSession, path: String): Table =
    new Table(graft.interop.ArrowImport.fromArrowFile(spark, path))
  def fromArrowBytes(spark: SparkSession, bytes: Array[Byte]): Table =
    new Table(graft.interop.ArrowImport.fromArrowBytes(spark, bytes))

  /** ibis memtable (ibis/expr/api.py). */
  def memtable(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): Table =
    new Table(spark.createDataFrame(spark.sparkContext.parallelize(rows), schema))

  /** ibis.parse_sql (ibis/expr/sql.py:402-428): parse a standalone SQL
    * string into a composable Table expression. The reference decompiles
    * via sqlglot into its op graph; Spark-native the same contract falls
    * out of the analyzer — `spark.sql` yields an unexecuted LogicalPlan
    * wrapped as a Table, so every downstream verb (filter/join/groupBy/…)
    * composes lazily on top of the parsed query and Catalyst optimizes the
    * combined plan as one unit. Tables referenced in the SQL resolve
    * against the session catalog (register with `createOrReplaceTempView`
    * or `Table.sql(query, alias)` for the single-table case). */
  def parseSql(spark: SparkSession, sql: String): Table = new Table(spark.sql(sql))

  /** Shared join output-column policy (ibis/expr/types/joins.py:34-111):
    * apply `lname` to left names and `rname` to right names that collide
    * ("" keeps the name, `{name}` interpolates); raise if any name is still
    * duplicated afterwards (reference IntegrityError parity). */
  private[graft] def renamedJoinOutput(l: DataFrame, r: DataFrame, joined: DataFrame,
      droppedRightKeys: Set[String], lname: String, rname: String): DataFrame = {
    def fmt(t: String, c: String) = if (t.isEmpty) c else t.replace("{name}", c)
    val rightKept = r.columns.filterNot(droppedRightKeys).toSeq
    val leftNames = l.columns.toSet
    val rightNames = rightKept.toSet
    val lOut = l.columns.toSeq.map(c => c -> (if (rightNames(c)) fmt(lname, c) else c))
    val rOut = rightKept.map(c => c -> (if (leftNames(c)) fmt(rname, c) else c))
    val outNames = lOut.map(_._2) ++ rOut.map(_._2)
    require(outNames.distinct.size == outNames.size,
      s"join output would duplicate columns ${outNames.diff(outNames.distinct).distinct.mkString(", ")}; " +
        "disambiguate with lname/rname templates")
    joined.select((lOut.map { case (c, n) => l.col(c).as(n) } ++
      rOut.map { case (c, n) => r.col(c).as(n) }).toIndexedSeq: _*)
  }

  /** Distributed 0-based row index that preserves the incoming sort order:
    * zipWithIndex is a narrow transformation (one pass + per-partition
    * offsets), unlike monotonically_increasing_id which is not contiguous.
    * Scale note: no driver materialization; safe at any row count. */
  private[graft] def withRowIndex(df: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(df.schema.fields :+ StructField(name, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex.map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ idx)
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}

/** ibis GroupedTable (ibis/expr/types/groupby.py). */
final class GroupedTable(df: DataFrame, keys: Seq[Column]) {
  /** aggregate (groupby.py:60). */
  def aggregate(metrics: Column*): Table = new Table(df.groupBy(keys: _*).agg(metrics.head, metrics.tail: _*))
  def agg(metrics: Column*): Table = aggregate(metrics: _*)

  /** having (groupby.py:69): post-aggregation filter. */
  def having(metrics: Seq[Column], predicate: Column): Table =
    new Table(df.groupBy(keys: _*).agg(metrics.head, metrics.tail: _*).filter(predicate))

  /** count (groupby.py:273). */
  def count(name: String = "count"): Table =
    new Table(df.groupBy(keys: _*).agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as(name)))

  /** mutate (groupby.py:134): group-windowed analytics appended as columns.
    * Single withColumns pass — see Table.mutate. */
  def mutate(cols: (String, Column)*): Table =
    new Table(df.withColumns(scala.collection.immutable.ListMap(cols: _*)))

  def window: org.apache.spark.sql.expressions.WindowSpec = Window.partitionBy(keys: _*)
}
