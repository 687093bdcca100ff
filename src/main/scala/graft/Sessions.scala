package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession: local mode on `cores`
  * threads, graft's Catalyst extensions, UTC session time and no web UI.
  * Every main and the test suite build through it and pass only the confs
  * they add on top. */
object Sessions {

  /** Local-mode threads: SPARK_GRAFT_CPUS when set, else `default`. */
  def cores(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def local(cores: Int, confs: Seq[(String, String)] = Nil,
      logLevel: String = "WARN"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.exts.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
