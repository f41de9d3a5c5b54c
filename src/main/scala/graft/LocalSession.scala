package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a local engine session. Bench, Verify, the test
  * session and the test-scope tools all come through here, so the
  * settings the engine depends on cannot drift between them:
  *  - `local[cpus]` with one shuffle partition per core (the default 200
  *    would fragment these data sizes);
  *  - UTC session time zone, so date/timestamp outputs match the DuckDB
  *    oracle;
  *  - `spark.sql.legacy.parquet.nanosAsLong`, which `Tables.events`
  *    needs to read the TIMESTAMP(NANOS) column;
  *  - [[GraftExtensions]] (native expressions and optimizer rules);
  *  - UI off, WARN log level;
  *  - a fresh temporary warehouse dir, since specs create tables.
  */
object LocalSession {

  /** `cpus` defaults to `SPARK_GRAFT_CPUS` (32 when unset) — the core
    * count of the mains and tools; the tests pin 4.
    */
  def apply(
      cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
  ): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
