package graft

/** The driver's contract: entry() returns rows, every oracle key has a
  * query, names match, and each registered query at least produces a
  * non-empty schema at the smallest SF. */
class DriverContractSpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("headline: 16 distinct registered queries, equal to perfbench/run.py's HEADLINE") {
    val h = SparkEntry.headline
    assert(h.filterNot(SparkEntry.queries.contains).isEmpty)
    assert(h.size == 16 && h.distinct.size == 16, h)
    // the benchmark keeps its own copy; it must not drift from this one
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("perfbench/run.py")))
    val block = "(?s)\nHEADLINE = \\[(.*?)\\]".r.findFirstMatchIn(src)
      .getOrElse(fail("no HEADLINE list in perfbench/run.py")).group(1)
    assert("\"(\\w+)\"".r.findAllMatchIn(block).map(_.group(1)).toSeq == h)
  }

  test("query names are unique across domain objects") {
    val names = SparkEntry.allDefs.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("all queries run and return rows at sf0.001 — with zero codegen compile failures") {
    // A janino 64 KB overflow (ERROR CodeGenerator: "Code grows beyond…")
    // silently falls back to interpreted evaluation — correct results,
    // real money burned at 100 TB. Capture CodeGenerator ERRORs for the
    // whole corpus run and fail on any (round-5 verdict #3; the round-6
    // culprit was q89c's inlined URL regexp chains).
    val codegenErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-codegen-capture", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.ERROR) &&
            e.getLoggerName.endsWith("CodeGenerator"))
          codegenErrors.add(e.getMessage.getFormattedMessage.linesIterator.take(1).mkString)
    }
    appender.start()
    val rootCfg = ctx.getConfiguration.getRootLogger
    rootCfg.addAppender(appender, org.apache.logging.log4j.Level.ERROR, null)
    ctx.updateLoggers()
    val empty = try {
      SparkEntry.allDefs.flatMap { d =>
        val n = d.fn(spark, sfDir).count()
        if (n == 0) Some(d.name) else None
      }
    } finally {
      rootCfg.removeAppender("graft-codegen-capture")
      ctx.updateLoggers()
      appender.stop()
    }
    assert(empty.isEmpty, s"queries with 0 rows: $empty")
    assert(codegenErrors.isEmpty,
      s"codegen compile failures (interpreted fallback in a hot path): " +
        codegenErrors.toArray.mkString("; "))
  }
}
