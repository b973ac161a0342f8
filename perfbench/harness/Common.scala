package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. `params` holds the
  * workload's settings (`--param key=value`), which the launcher reads
  * from perfbench/config.json. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, out: String, work: String, params: Map[String, String]) {
  def param(key: String): String = params.getOrElse(key, sys.error(s"missing --param $key"))
  def int(key: String): Int = param(key).toInt
  def double(key: String): Double = param(key).toDouble
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = mutable.LinkedHashMap[String, String]()
    val params = mutable.LinkedHashMap[String, String]()
    argv.grouped(2).foreach {
      case Array("--param", p) =>
        val Array(k, v) = p.split("=", 2)
        params(k) = v
      case Array(k, v) if k.startsWith("--") => kv(k.drop(2)) = v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("out"), need("work"), params.toMap)
  }
}

/** Wall clock shared by every record of a run: epoch milliseconds with
  * sub-millisecond resolution, so client-side spans line up with the
  * epoch-millisecond stamps Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Sleep until the clock reads `ms` (no-op when already past). */
  def sleepUntil(ms: Double): Unit = {
    var left = ms - nowMs
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos((left * 1e6).toLong)
      left = ms - nowMs
    }
  }
}

/** The one session configuration every workload runs under: all local
  * cores, shuffle partitions equal to cores, a periodic cleaner GC, and
  * every scratch path inside the run's work directory. The heap is set
  * on the JVM command line by the launcher. */
object Session {
  def create(work: String, cleanerGcInterval: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", cleanerGcInterval)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The box and build a run measured on. */
  def stamp(spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "local_cores" -> spark.sparkContext.defaultParallelism,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
    "cleaner_gc_interval" -> spark.conf.get("spark.cleaner.periodicGC.interval"),
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString,
    "jdk" -> System.getProperty("java.version"))
}

/** Result document of a run, written as JSON when the run ends and
  * read by the launcher, which turns it into metrics. */
final class Out {
  val root = mutable.LinkedHashMap[String, Any]()
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()

  def put(k: String, v: Any): Unit = root(k) = v

  /** Record one output check; a failed check makes the run incorrect. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  def write(path: String): Unit = {
    root("checks") = checks.toSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.write(Paths.get(path), mapper.writeValueAsBytes(Out.toJava(root)))
  }
}

object Out {
  def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case x => x.toString
  }
}

/** Store-root accounting: the manifest versions and live segments a
  * store holds, and the files a write leaves behind, read from the
  * directory tree alone. */
object StoreScan {
  final case class Snap(versions: Long, segmentsLive: Long)

  def apply(root: String): Snap = {
    var versions = 0L
    var live = 0L
    val tables = Files.list(Paths.get(root))
    try tables.iterator().asScala.filter(Files.isDirectory(_)).foreach { t =>
      val cur = t.resolve("_current")
      if (Files.exists(cur)) {
        val v = new String(Files.readAllBytes(cur)).trim.toLong
        versions += v
        val m = t.resolve(s"m$v")
        if (Files.exists(m)) live += new String(Files.readAllBytes(m))
          .split("\n").count(l => l.nonEmpty && !l.startsWith("#"))
      }
    } finally tables.close()
    Snap(versions, live)
  }

  /** Every parquet file under the store root with its size. */
  def files(root: String): Map[String, Long] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap
    finally walk.close()
  }

  /** Parquet bytes of the segments table `t`'s current version lists. */
  def liveBytes(root: String, t: String): Long = {
    val dir = Paths.get(root, t)
    val v = new String(Files.readAllBytes(dir.resolve("_current"))).trim
    new String(Files.readAllBytes(dir.resolve(s"m$v"))).split("\n")
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(seg => files(dir.resolve(seg).toString).values.sum).sum
  }
}

/** Seeded draws shared by the generators. */
final class Draw(seed: Long) {
  val rnd = new java.util.Random(seed)
  def uniform(n: Int): Int = rnd.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)
  def chance(p: Double): Boolean = rnd.nextDouble() < p
  def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))
}

/** Zipf(s) over ranks 0..n-1 by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(d: Draw): Int = {
    val u = d.rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Hex {
  /** 24-hex object id derived from a name, identical to Spark's
    * `substr(md5(name), 1, 24)`. */
  def oid(name: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(24)

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
