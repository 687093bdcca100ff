package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession: local mode on `cores`
  * threads, graft's Catalyst extensions, UTC session time, no web UI, a
  * codegen class cache sized to a session's working set and graft's
  * checkpoint file manager for local streaming checkpoints. Every main and
  * the test suite build through it and pass only the confs they add on
  * top; a session built elsewhere takes [[BenchConfs.planConfs]], which
  * carries the same two confs. */
object Sessions {

  /** Capacity of Spark's JVM-wide cache of compiled codegen classes. The
    * default of 100 is smaller than the ~310 classes the headline rotation
    * compiles (~20 per query), so a warm session evicted and recompiled
    * nearly every class it had compiled a round before. A static conf:
    * Spark sizes the cache at the first codegen use in a JVM, so it must be
    * set when the first session is built, never with `spark.conf.set`. */
  val codegenCache: (String, String) = "spark.sql.codegen.cache.maxEntries" -> "1024"

  /** The offset and commit logs and the HDFS-backed state store all take
    * their file manager from this conf (Spark's `CheckpointFileManager.create`
    * reads it from the session's Hadoop conf). A `file:` checkpoint then
    * sets each file's mode with a syscall instead of a forked `chmod`
    * ([[graft.streaming.LocalCheckpointFileManager]]); any other scheme
    * keeps Spark's default manager. */
  val checkpointFiles: (String, String) = "spark.sql.streaming.checkpointFileManagerClass" ->
    classOf[graft.streaming.LocalCheckpointFileManager].getName

  /** Local-mode threads: SPARK_GRAFT_CPUS when set, else `default`. */
  def cores(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def local(cores: Int, confs: Seq[(String, String)] = Nil,
      logLevel: String = "WARN"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.exts.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(codegenCache._1, codegenCache._2)
      .config(checkpointFiles._1, checkpointFiles._2)
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
