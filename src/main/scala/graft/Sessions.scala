package graft

import org.apache.spark.sql.SparkSession

/** The local session the dev mains (Bench, Verify, Explain, PlanDump,
  * ScaleProbe, StreamState) run on. The extension tier is ON — the
  * `spark.sql.extensions=graft.GraftExtensions` configuration a user
  * deploys — so injected kernels resolve in SQL and the optimizer
  * rewrites (HofToKernelRule, WindowTopKRule) apply: benched, verified
  * and explained plans are the production plans.
  */
object Sessions {

  /** `local[cpus]` with one shuffle partition per core, UTC, AQE on,
    * nanosecond parquet timestamps read as longs, no UI, WARN logging.
    */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
