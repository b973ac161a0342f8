package graft.perfbench

/** A benchmark workload. `setup` builds its state from nothing,
  * `measure` is the untraced run and `traced` the per-layer run. */
trait Workload {
  def setup(): Unit
  def measure(): Unit
  def traced(tr: Tracer): Unit
  def teardown(): Unit
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --out result.json --work dir [--param k=v ...]`. Writes
  * the run's raw records (latencies, spans, listener data, checks) to
  * `--out`; the launcher turns them into metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val out = new Out
    val spark = Session.create(a.work, a.param("cleaner_gc_interval"))
    var code = 0
    try {
      out.put("stamp", Session.stamp(spark) ++ Map("seed" -> a.seed,
        "workload" -> a.workload, "seconds" -> a.seconds, "trace" -> a.trace))
      val wl: Workload = a.workload match {
        case "rest_search" => new RestSearch(spark, a, out)
        case "cdc_saga" => new CdcSaga(spark, a, out)
        case other => sys.error(s"unknown workload $other")
      }
      val t0 = Clock.nowMs
      wl.setup()
      out.put("setup_s", (Clock.nowMs - t0) / 1e3)
      if (a.trace) wl.traced(new Tracer(spark)) else wl.measure()
      wl.teardown()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.put("error", e.toString)
        code = 1
    } finally {
      out.write(a.out)
      spark.stop()
    }
    System.exit(code)
  }
}
