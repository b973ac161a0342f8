package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession — every entry point and the
  * test suites go through [[create]], so their settings cannot drift:
  *   - `local[N]` with shuffle partitions equal to N;
  *   - UTC session time zone, UI off;
  *   - a periodic ContextCleaner GC every 60s instead of the 30min
  *     default (a whole bench run can finish inside one default
  *     interval, i.e. with zero cleanups);
  *   - [[GraftExtensions]] registered, so the engine's expressions are
  *     SQL functions too (they inject functions only, never plan rules).
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS` when set, otherwise every
    * available processor. The only place that variable is read. */
  def defaultCores(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def create(cores: Int = defaultCores(), logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
