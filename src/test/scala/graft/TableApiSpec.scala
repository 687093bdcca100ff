package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.api.{SortKey, Table}

class TableApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val t = Table(Seq(
    (1, Some("a"), Some(10.0)),
    (2, None, Some(5.0)),
    (3, Some("b"), None),
    (4, Some("a"), Some(7.0))
  ).toDF("id", "s", "v"))

  test("sort: ibis default is asc NULLS LAST (Spark default is nulls-first)") {
    val ids = t.sort(SortKey.asc(col("v"))).df.select("id").as[Int].collect().toSeq
    assert(ids == Seq(2, 4, 1, 3)) // null v goes last
    val idsDesc = t.sort(SortKey.desc(col("v"))).df.select("id").as[Int].collect().toSeq
    assert(idsDesc == Seq(1, 4, 2, 3))
  }

  test("limit with offset") {
    val ids = t.sort(SortKey.asc(col("id"))).limit(2, offset = 1)
      .df.select("id").as[Int].collect().toSeq
    assert(ids == Seq(2, 3))
  }

  /** Exchanges between the plan root and its topmost aggregate. */
  private def exchangesAboveAgg(p: SparkPlan): Int = p match {
    case _: BaseAggregateExec => 0
    case e: Exchange => 1 + e.children.map(exchangesAboveAgg).sum
    case _ => p.children.map(exchangesAboveAgg).sum
  }

  test("sortBounded: no Exchange above a bounded aggregate; same rows and order as sort, ties included") {
    // group sizes e=3, a=b=null=2, c=d=1: ties on n, and a null group key
    val agg = Table(Seq[(String, Int)](("a", 1), ("a", 2), ("b", 3), ("b", 4), ("c", 5),
        (null, 6), (null, 7), ("d", 8), ("e", 9), ("e", 10), ("e", 11))
      .toDF("g", "v").repartition(4))
      .groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val byN = Seq(SortKey.desc(col("n")))
    val total = byN :+ SortKey.asc(col("g"))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = agg.sortBounded(total: _*).df.queryExecution.executedPlan
      assert(exchangesAboveAgg(plan) == 0, s"sortBounded still shuffles the result:\n$plan")
      val control = agg.sort(total: _*).df.queryExecution.executedPlan
      assert(exchangesAboveAgg(control) == 1, s"sort without its range Exchange:\n$control")
    }
    val both = (k: Seq[SortKey]) =>
      (agg.sortBounded(k: _*).df.collect().toSeq, agg.sort(k: _*).df.collect().toSeq)
    val (tiedBounded, tiedSorted) = both(byN)
    assert(tiedBounded.map(_.getLong(1)) == Seq(3L, 2L, 2L, 2L, 1L, 1L))
    assert(tiedBounded.map(_.getLong(1)) == tiedSorted.map(_.getLong(1)))
    assert(tiedBounded.map(_.toString).sorted == tiedSorted.map(_.toString).sorted)
    val (bounded, sorted) = both(total)
    assert(bounded == sorted)
    assert(bounded.map(r => Option(r.getString(0))) ==
      Seq(Some("e"), Some("a"), Some("b"), None, Some("c"), Some("d")))
  }

  test("fillNull / dropNull") {
    assert(t.fillNull(Map("s" -> "?", "v" -> 0.0)).df.na.drop("any").count() == 4)
    assert(t.dropNull("any").df.count() == 2)
    assert(t.dropNull("all").df.count() == 4)
    assert(t.dropNull("any", Some(Seq("s"))).df.count() == 3)
  }

  test("mutate/select/rename/relocate/dropColumns") {
    val out = t.mutate("v2" -> (col("v") * 2))
      .rename("s" -> "label")
      .relocate("v2")
      .dropColumns("v")
    assert(out.columns == Seq("v2", "id", "label"))
  }

  test("semi/anti join kinds") {
    val other = Seq(1, 3).toDF("id2")
    val semi = t.join(Table(other), col("id") === col("id2"), "semi")
    val anti = t.join(Table(other), col("id") === col("id2"), "anti")
    assert(semi.df.select("id").as[Int].collect().toSet == Set(1, 3))
    assert(anti.df.select("id").as[Int].collect().toSet == Set(2, 4))
    assert(semi.columns == t.columns) // right columns dropped, like ibis
  }

  test("unnest with offset and keep_empty") {
    val arr = Seq((1, Seq("x", "y")), (2, Seq.empty[String])).toDF("id", "a")
    val kept = Table(arr).unnest("a", offset = Some("pos"), keepEmpty = true).df
    assert(kept.count() == 3) // empty array kept as null row
    val dropped = Table(arr).unnest("a", offset = Some("pos")).df
    assert(dropped.count() == 2)
    assert(dropped.select("pos").as[Int].collect().toSet == Set(0, 1))
  }

  test("pivotWider / pivotLonger roundtrip shape") {
    val df = Seq(("x", "m1", 1.0), ("x", "m2", 2.0), ("y", "m1", 3.0)).toDF("k", "m", "v")
    val wide = Table(df).pivotWider(Seq("k"), "m", col("v"), c => sum(c), values = Seq("m1", "m2"))
    assert(wide.columns == Seq("k", "m1", "m2"))
    val long = wide.pivotLonger(Seq("k"), Seq("m1", "m2"), "m", "v")
    assert(long.df.count() == 4) // 2 keys × 2 metrics (null cell kept)
  }

  test("topk is deterministic and distributed (no collect)") {
    val df = Seq("a", "a", "a", "b", "b", "c").toDF("x")
    val top = Table(df).topk(col("x"), 2).df.collect()
    assert(top.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 3L), ("b", 2L)))
  }

  test("positional join aligns by row order") {
    val a = Table(Seq(1, 2, 3).toDF("n")).sort(SortKey.asc(col("n")))
    val b = Table(Seq("one", "two", "three").toDF("w"))
    val joined = a.positionalJoin(b).df.orderBy("n").collect()
    assert(joined.length == 3)
  }

  test("set ops: union distinct, intersect, difference") {
    val a = Table(Seq(1, 2, 2, 3).toDF("x"))
    val b = Table(Seq(2, 3, 4).toDF("x"))
    assert(a.union(b).df.count() == 7)
    assert(a.union(b, distinct = true).df.count() == 4)
    assert(a.intersect(b).df.as[Int].collect().toSet == Set(2, 3))
    assert(a.difference(b).df.as[Int].collect().toSet == Set(1))
  }

  test("unpack struct to columns") {
    val df = Seq((1, ("n", 2))).toDF("id", "st")
    val out = Table(df).unpack("st")
    assert(out.columns == Seq("id", "_1", "_2"))
  }

  test("distinctOn keep first/last/none with explicit order") {
    val t = Table(Seq(("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0)).toDF("k", "v", "x"))
    val first = t.distinctOn(Seq("k"), keep = "first", orderBy = Seq(SortKey.asc(col("v"))))
      .df.select("v").as[Int].collect().toSet
    assert(first == Set(1, 3))
    val last = t.distinctOn(Seq("k"), keep = "last", orderBy = Seq(SortKey.asc(col("v"))))
      .df.select("v").as[Int].collect().toSet
    assert(last == Set(2, 3))
    val none = t.distinctOn(Seq("k"), keep = "none").df.select("v").as[Int].collect().toSet
    assert(none == Set(3))
    assert(t.distinctOn(Seq("k")).df.count() == 2) // keep="any"
  }

  test("relocate before/after an anchor") {
    val t = Table(Seq((1, 2, 3, 4)).toDF("a", "b", "c", "d"))
    assert(t.relocate("c").columns == Seq("c", "a", "b", "d"))
    assert(t.relocateBefore("b", "d").columns == Seq("a", "d", "b", "c"))
    assert(t.relocateAfter("b", "d").columns == Seq("a", "b", "d", "c"))
  }

  test("co-bucketed tables equi-join with no shuffle exchange") {
    for (t <- Seq("graft_facts_b", "graft_dims_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    val facts = Table(spark.range(1000).toDF("k").withColumn("v", col("k") * 2))
    val dims = Table(spark.range(100).toDF("k").withColumn("name", concat(lit("n"), col("k"))))
    facts.toBucketedTable("graft_facts_b", 4, "k")
    dims.toBucketedTable("graft_dims_b", 4, "k")
    val f = spark.table("graft_facts_b"); val d = spark.table("graft_dims_b")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = f.join(d, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 100)
    }
  }

  test("bucketed join on a SUPERSET of the bucket key drops the exchange with the subset-key conf") {
    // the q101b_tpch5_bucketed mechanism: tables bucketed on k, join on
    // (k, k2) — partitioning on k alone still co-locates every (k, k2)
    // group, accepted via requireAllClusterKeysForCoPartition=false
    for (t <- Seq("graft_facts_b2", "graft_dims_b2")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    Table(spark.range(1000).toDF("k")
        .withColumn("k2", col("k") % 7).withColumn("v", col("k") * 2))
      .toBucketedTable("graft_facts_b2", 4, "k")
    Table(spark.range(100).toDF("k").withColumn("k2", col("k") % 7))
      .toBucketedTable("graft_dims_b2", 4, "k")
    val f = spark.table("graft_facts_b2"); val d = spark.table("graft_dims_b2")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      withConf("spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
        val joined = f.join(d, Seq("k", "k2"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"superset-key bucketed join still shuffles:\n$plan")
        assert(joined.count() == 100)
      }
    }
  }

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val old = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body finally old match {
      case Some(v) => spark.conf.set(kv._1, v)
      case None    => spark.conf.unset(kv._1)
    }
  }

  test("name-taking verbs raise eagerly on unknown columns (ibis relations.py:276-292 parity)") {
    for (bad <- Seq(
        () => t.selectNames("id", "nope"),
        () => t.dropColumns("nope"),
        () => t.rename("nope" -> "x"),
        () => t.groupByNames("nope"),
        () => t.distinctOn(Seq("nope")),
        () => t.relocate("nope"),
        () => t.castColumns(Map("nope" -> "int")),
        () => t.unnest("nope"),
        () => t.unpack("nope"))) {
      val e = intercept[IllegalArgumentException](bad())
      assert(e.getMessage.contains("nope") && e.getMessage.contains("existing columns"))
    }
    // unpack on a non-struct column names the offending type
    val e2 = intercept[IllegalArgumentException](t.unpack("id"))
    assert(e2.getMessage.contains("expected struct"))
  }

  test("join output-collision policy: lname/rname templates, raise on unresolved duplicate") {
    val l = Table(Seq((1, 10.0), (2, 20.0)).toDF("k", "price"))
    val r = Table(Seq((1, 99.0), (2, 88.0)).toDF("rk", "price"))
    // default: left unchanged, right gets {name}_right
    val d = l.joinOn(r, Seq("k" -> "rk"))
    assert(d.columns == Seq("k", "price", "rk", "price_right"))
    // both templates applied
    val both = l.joinOn(r, Seq("k" -> "rk"), rname = "r_{name}", lname = "{name}_left")
    assert(both.columns == Seq("k", "price_left", "rk", "r_price"))
    // templates that still collide raise (reference IntegrityError parity)
    val e = intercept[IllegalArgumentException](l.joinOn(r, Seq("k" -> "rk"), rname = ""))
    assert(e.getMessage.contains("price"))
    // asof join applies the same policy instead of emitting duplicate names
    val lt = Table(Seq((1, 1L, 5.0), (1, 3L, 6.0)).toDF("k", "t", "price"))
    val rt = Table(Seq((1, 1L, 50.0), (1, 2L, 60.0)).toDF("k2", "t2", "price"))
    val a = lt.asofJoin(rt, col("t"), col("t2"), by = Seq("k" -> "k2"))
    assert(a.columns == Seq("k", "t", "price", "t2", "price_right"))
    // anyJoin: same policy
    val any = l.anyJoin(r, Seq("k"), Seq("rk"), "any_left")
    assert(any.columns == Seq("k", "price", "rk", "price_right"))
  }

  test("withRowId: contiguous 0-based ids in the current order") {
    val ids = t.sort(SortKey.asc(col("id"))).withRowId("rid")
      .df.select("rid").as[Long].collect().toSeq
    assert(ids == Seq(0L, 1L, 2L, 3L))
  }

  test("bare reduction in a filter is rejected (ibis relations.py:276-292 parity)") {
    val t = Table(Seq((1, 2.0), (2, 3.0)).toDF("k", "v"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      t.filter(sum(col("v")) > 1).df.collect()
    }
    assert(e.getMessage.toLowerCase.contains("aggregate"))
  }

  test("castColumns re-types in place; strict=false null-safes bad casts") {
    val t = Table(Seq(("1", "x"), ("2", "oops")).toDF("a", "b"))
    val strict = t.castColumns(Map("a" -> "int"))
    assert(strict.schema("a").dataType == org.apache.spark.sql.types.IntegerType)
    val lax = t.castColumns(Map("b" -> "int"), strict = false)
    assert(lax.df.select("b").collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
      == Seq(None, None))
  }

  test("sampleBlock runs TABLESAMPLE and returns a subset") {
    val t = Table(spark.range(10000).toDF("id"))
    val n = t.sampleBlock(50.0).df.count()
    assert(n > 0 && n <= 10000)
    // concurrent callers don't collide: each call registers (and drops) a
    // unique temp view, and both frames stay independently usable
    val a = t.sampleBlock(30.0)
    val b = Table(spark.range(5).toDF("id")).sampleBlock(100.0)
    assert(b.df.count() == 5)
    assert(a.df.count() <= 10000)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("__graft_block_sample")))
  }

  test("mutate is one analysis pass (wide 500-col) with ibis simultaneous semantics") {
    val wide = (1 to 500).map(i => s"c$i" -> (col("id") * i))
    val t0 = System.nanoTime()
    val out = Table(spark.range(100).toDF("id")).mutate(wide: _*)
    out.df.queryExecution.analyzed // force analysis
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.columns.length == 501)
    assert(out.columns.last == "c500") // ListMap keeps declaration order
    // the withColumn fold this replaced took O(cols²) analysis (~minutes
    // at 500 cols); a single withColumns pass stays well under this bound
    assert(secs < 20.0, f"wide mutate analysis took $secs%.1fs")
    // ibis semantics: every expression resolves against the INPUT table —
    // replacing a column does not change what later expressions in the
    // same mutate see
    val r = Table(Seq((1, 2)).toDF("a", "b"))
      .mutate("a" -> col("b"), "c" -> (col("a") + lit(100)))
      .df.collect().head
    assert(r.getInt(0) == 2)   // a replaced by b's value
    assert(r.getInt(2) == 101) // c saw the ORIGINAL a
  }

  test("valueCounts names the count column safely for expression inputs") {
    val t = Table(Seq("x", "X", "y").toDF("s"))
    val plain = t.valueCounts(col("s"))
    assert(plain.columns.contains("s_count"))
    val expr = t.valueCounts(lower(col("s")))
    assert(expr.columns.exists(c => c.endsWith("_count") && !c.contains("(")))
    assert(expr.df.collect().map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
  }

  test("parseSql: parsed SQL composes lazily with downstream verbs") {
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "tag")
      .createOrReplaceTempView("psql_t")
    val parsed = Table.parseSql(spark, "SELECT id, upper(tag) AS tag FROM psql_t WHERE id > 1")
    // compose API verbs ON TOP of the parsed query — one optimized plan
    val out = parsed
      .filter(col("id") < 3)
      .mutate("id2" -> (col("id") * 10))
      .df.collect()
    assert(out.length == 1 && out.head.getString(1) == "B" && out.head.getInt(2) == 20)
    // still lazy: parse alone plans, doesn't execute
    assert(Table.parseSql(spark, "SELECT 1 AS one").df.schema.fieldNames.sameElements(Array("one")))
  }

  test("catalog verbs: create/list/rename/read/drop round trip") {
    import graft.api.Catalog
    val src = Table(Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "tag"))
    Catalog.dropTable(spark, "graft_spec_cat", force = true)
    Catalog.dropTable(spark, "graft_spec_cat2", force = true)

    val created = Catalog.createTable("graft_spec_cat", src)
    assert(created.df.count() == 3)
    // create without overwrite on an existing table errors (reference mode="error")
    intercept[Exception] { Catalog.createTable("graft_spec_cat", src) }
    // overwrite replaces
    Catalog.createTable("graft_spec_cat", Table(src.df.filter(col("id") < 3L)),
      overwrite = true)
    assert(Catalog.table(spark, "graft_spec_cat").df.count() == 2)

    assert(Catalog.listTables(spark, like = Some("graft_spec_cat"))
      .contains("graft_spec_cat"))
    assert(Catalog.listTables(spark, like = Some("^no_such_table$")).isEmpty)

    Catalog.renameTable(spark, "graft_spec_cat", "graft_spec_cat2")
    assert(!Catalog.listTables(spark).contains("graft_spec_cat"))
    assert(Catalog.getSchema(spark, "graft_spec_cat2").fieldNames.toSeq ==
      Seq("id", "tag"))

    // temp view over the renamed table; SQL sees both by name
    Catalog.createView("graft_spec_view",
      Catalog.table(spark, "graft_spec_cat2").filter(col("id") === 1L),
      overwrite = true)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_spec_view")
      .collect().head.getLong(0) == 1L)
    intercept[Exception] { // create without overwrite on an existing view errors
      Catalog.createView("graft_spec_view", src)
    }
    Catalog.dropView(spark, "graft_spec_view")

    // empty table from a schema
    Catalog.dropTable(spark, "graft_spec_empty", force = true)
    val sch = new org.apache.spark.sql.types.StructType()
      .add("a", org.apache.spark.sql.types.LongType)
      .add("b", org.apache.spark.sql.types.StringType)
    val empty = Catalog.createEmptyTable(spark, "graft_spec_empty", sch)
    assert(empty.df.count() == 0 && empty.schema.fieldNames.toSeq == Seq("a", "b"))
    Catalog.dropTable(spark, "graft_spec_empty")

    Catalog.dropTable(spark, "graft_spec_cat2")
    assert(!Catalog.listTables(spark).contains("graft_spec_cat2"))
    // dropping a missing table: force passes, strict errors
    Catalog.dropTable(spark, "graft_spec_cat2", force = true)
    intercept[Exception] { Catalog.dropTable(spark, "graft_spec_cat2") }

    // databases
    Catalog.createDatabase(spark, "graft_spec_db", force = true)
    assert(Catalog.listDatabases(spark, like = Some("graft_spec_db"))
      .contains("graft_spec_db"))
    Catalog.createTable("graft_spec_cat", src, database = Some("graft_spec_db"))
    assert(Catalog.listTables(spark, database = Some("graft_spec_db"))
      .contains("graft_spec_cat"))
    assert(Catalog.table(spark, "graft_spec_cat",
      database = Some("graft_spec_db")).df.count() == 3)
    Catalog.dropDatabase(spark, "graft_spec_db", force = true)
    assert(!Catalog.listDatabases(spark).contains("graft_spec_db"))
  }

  test("catalog: cached tables materialize and release on demand; compute stats runs") {
    import graft.api.Catalog
    val src = Table(Seq((1L, "x"), (2L, "y")).toDF("id", "tag"))
    val c = Catalog.cacheTable("graft_spec_cached", src)
    assert(c.df.count() == 2)
    assert(spark.table("graft_spec_cached").storageLevel.useMemory,
      "cached table is not memory-backed")
    assert(spark.sql("SELECT COUNT(*) FROM graft_spec_cached")
      .collect().head.getLong(0) == 2L)
    Catalog.uncacheTable(spark, "graft_spec_cached")
    intercept[Exception] { spark.table("graft_spec_cached").collect() }

    // re-caching a name releases the previous frame's blocks
    val first = Seq((1L, "a")).toDF("id", "tag").cache()
    Catalog.cacheTable("graft_spec_recache", Table(first))
    first.count()
    assert(first.storageLevel.useMemory)
    Catalog.cacheTable("graft_spec_recache", Table(Seq((2L, "b")).toDF("id", "tag")))
    assert(!first.storageLevel.useMemory, "previous cached frame leaked")
    Catalog.uncacheTable(spark, "graft_spec_recache")

    Catalog.dropTable(spark, "graft_spec_stats", force = true)
    Catalog.createTable("graft_spec_stats", src, overwrite = true)
    Catalog.computeStats(spark, "graft_spec_stats")
    Catalog.computeStats(spark, "graft_spec_stats", noscan = true)
    val stats = spark.sql("DESCRIBE TABLE EXTENDED graft_spec_stats")
      .collect().map(_.mkString(" ")).mkString("\n")
    assert(stats.contains("Statistics"), s"no statistics recorded:\n$stats")
    Catalog.dropTable(spark, "graft_spec_stats")
  }
}
