package graft.perfbench

import scala.jdk.CollectionConverters._

import graft.api.RestService
import graft.operators.{CurationQueries, PostingsIndex, PqQueries, TextQueries, VectorIndex, VectorQueries}
import graft.tables.TableStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The search corpus: `docs` documents whose tokens are drawn
  * Zipf-weighted from a fixed pseudo-word vocabulary, and `vectors`
  * 64-dimensional embeddings around 16 centres. It is generated from a
  * fixed seed, so the probe digest below is a property of the program,
  * not of the run; the run's seed drives the request stream. */
final case class Corpus(docs: Int = 2000, vectors: Int = 2000, vocab: Int = 800) {
  private val CorpusSeed = 20261017L
  val words: IndexedSeq[String] = {
    val d = new Draw(CorpusSeed)
    val syl = IndexedSeq("ka", "lo", "mi", "ra", "te", "su", "no", "vi", "da",
      "pe", "zo", "ri", "ma", "tu", "se", "bo")
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < vocab) seen += (0 until d.between(2, 4)).map(_ => d.pick(syl)).mkString
    seen.toIndexedSeq
  }
  val zipf = new Zipf(vocab, 1.0)
  lazy val texts: IndexedSeq[String] = {
    val d = new Draw(CorpusSeed + 1)
    IndexedSeq.fill(docs)(IndexedSeq.fill(d.between(20, 120))(words(zipf.sample(d))).mkString(" "))
  }

  def write(spark: SparkSession, dir: String): Unit = {
    val docRows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, "en", s"src${i % 7}", t.length.toLong) }
    spark.createDataFrame(docRows.asJava, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val d = new Draw(CorpusSeed + 2)
    val centres = IndexedSeq.fill(16)(Array.fill(64)(d.rnd.nextGaussian()))
    val vecRows = (0 until vectors).map { i =>
      val c = centres(i % 16)
      val v = c.map(x => (x + 0.6 * d.rnd.nextGaussian()).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      Row(i.toLong, v.map(_ / n).toSeq, i % 8)
    }
    spark.createDataFrame(vecRows.asJava, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }
}

/** rest_search: `/search` requests sent open-loop at a fixed rate over
  * six arms (BM25 doc, BM25 chunk, IVF, PQ, hybrid RRF, phrase), with
  * stored indexes built during set-up. Read-only. */
final class RestSearch(spark: SparkSession, a: Args, out: Out) extends Workload {
  private val corpus = Corpus()
  private val rate = a.double("rate")
  private val clients = math.min(a.int("clients"),
    Runtime.getRuntime.availableProcessors())
  private val draw = new Draw(a.seed)

  private var dir: String = _
  private var svc: RestService = _
  private var gen: Gen = _
  private var digest: String = _

  out.put("workload_config", Map("docs" -> corpus.docs, "vectors" -> corpus.vectors,
    "vocab" -> corpus.vocab, "rate_per_s" -> rate, "clients" -> clients,
    "burst" -> a.int("burst"), "arms" -> RestSearch.Arms))

  def setup(): Unit = {
    dir = s"${a.work}/corpus"
    corpus.write(spark, dir)
    val builds = Seq(
      "postings" -> (() => { PostingsIndex.forDir(spark, dir); () }),
      "ivf" -> (() => { VectorIndex.forDir(spark, dir); () }),
      "pq" -> (() => { PqQueries.codesFor(spark, dir); () })).map { case (k, f) =>
      val t0 = Clock.nowMs; f(); k -> (Clock.nowMs - t0) / 1e3
    }
    out.put("index_build_s", builds.toMap)
    svc = new RestService(spark, new TableStore(spark, s"${a.work}/store"),
      analyticsDir = Some(dir))
    svc.start()
    gen = new Gen(svc.boundPort)
    // warm-up: two rounds of the fixed probe set (one request per arm)
    // from all clients at once, so the measured phase starts on warm
    // request paths; the first round's replies are the output check
    digest = probeDigest(gen.openLoop((probes() ++ probes()).toIndexedSeq, 4.0, clients)()
      .take(RestSearch.Arms.size))
  }

  def teardown(): Unit = svc.stop()

  private def terms(d: Draw, n: Int): Seq[String] =
    Seq.fill(n)(corpus.words(corpus.zipf.sample(d))).distinct

  private def phrase(d: Draw): Seq[String] = {
    val toks = corpus.texts(d.uniform(corpus.docs)).split(" ")
    val i = d.uniform(toks.length - 1)
    Seq(toks(i), toks(i + 1))
  }

  private def q(ts: Seq[String]) = Gen.enc(ts.mkString(" "))

  /** A request of arm `arm` with parameters drawn from `d`. */
  private def request(arm: String, d: Draw): Req = {
    val path = arm match {
      case "bm25" => s"/search?q=${q(terms(d, d.between(1, 3)))}&k=10"
      case "chunk" => s"/search?q=${q(terms(d, d.between(1, 3)))}&unit=chunk&k=10"
      case "ivf" => s"/search?like=${d.uniform(corpus.vectors)}&k=10"
      case "pq" => s"/search?like=${d.uniform(corpus.vectors)}&index=pq&k=10"
      case "hybrid" =>
        s"/search?q=${q(terms(d, d.between(1, 3)))}&like=${d.uniform(corpus.vectors)}&k=10"
      case "phrase" => s"/search?phrase=${q(phrase(d))}&k=10"
    }
    Req(s"search_$arm", "GET", path, contains = "[")
  }

  /** The fixed probe set: one request per arm from a fixed seed. */
  private def probes(): Seq[Req] = {
    val d = new Draw(7L)
    RestSearch.Arms.map(request(_, d))
  }

  /** The arms in a fixed rotation, each request's parameters drawn from
    * the run's seed: every run sends the same arm sequence, so runs
    * differ in what they ask, not in how the load is composed. */
  private def stream(n: Int): IndexedSeq[Req] =
    IndexedSeq.tabulate(n)(i => request(RestSearch.Arms(i % RestSearch.Arms.size), draw))

  /** Order-insensitive digest of the probe replies: ids and scores at
    * four decimals, sorted, so float summation order cannot move it. */
  private def probeDigest(replies: Seq[Sent]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parts = replies.map { s =>
      val rows = if (s.status != 200) Seq(s"status=${s.status}")
        else mapper.readTree(s.reply).elements().asScala.map { n =>
          n.fields().asScala.map { e =>
            val v = e.getValue
            e.getKey + "=" + (if (v.isFloatingPointNumber) f"${v.asDouble}%.4f" else v.asText)
          }.toSeq.sorted.mkString(",")
        }.toSeq.sorted
      s.req.route + ":" + rows.mkString(";")
    }
    Hex.md5(parts.mkString("\n"))
  }

  private def checks(sent: Seq[Sent]): Unit = {
    val bad = sent.filterNot(_.ok)
    out.check("replies", bad.isEmpty,
      bad.take(3).map(s => s"${s.req.path} -> ${s.status} ${s.reply.take(120)}").mkString("; "))
    out.put("probe_digest", digest)
    out.check("probe_digest", digest == RestSearch.ProbeDigest,
      s"probe digest $digest, recorded ${RestSearch.ProbeDigest}")
  }

  /** Throughput: `n` requests all due at once, so every client sends
    * its next request as soon as its last reply is in. */
  private def burst(n: Int): Seq[Sent] = {
    val sent = gen.openLoop(stream(n), 1e6, clients)()
    out.put("burst", sent.map(_.record))
    out.put("bulk", Map("ops" -> n,
      "seconds" -> (sent.map(_.end).max - sent.map(_.due).min) / 1e3))
    sent
  }

  def measure(): Unit = {
    val bulk = burst(a.int("burst"))
    val sent = gen.openLoop(stream(math.max(1, (rate * a.seconds).toInt)), rate, clients)()
    out.put("requests", sent.map(_.record))
    checks(bulk ++ sent)
  }

  def traced(tr: Tracer): Unit = {
    val open = gen.openLoop(stream(math.max(1, (rate * a.seconds / 2).toInt)), rate, clients)()
    out.put("requests", open.map(_.record))
    val n = 12
    val base = gen.closedLoop(stream(n))((_, f) => f())
    tr.start()
    val traced = gen.closedLoop(stream(n)) { (_, f) =>
      val s = f(); tr.record(s"api.${s.req.route}", s.start, s.end); s
    }
    // the operator calls behind each arm, called directly: builder call
    // (including any driver-side pre-pass jobs), then the action
    val d = new Draw(a.seed + 1)
    RestSearch.Arms.foreach { arm =>
      tr.span(s"query.$arm") {
        val df = tr.span("operators.build")(builder(arm, d))
        tr.span("operators.exec")(df.collect())
      }
    }
    tr.stop()
    out.put("untraced", base.map(_.record))
    out.put("traced", traced.map(_.record))
    out.put("trace", tr.dump)
    checks(open ++ base ++ traced)
  }

  private def builder(arm: String, d: Draw): DataFrame = {
    val k = 10
    arm match {
      case "bm25" => TextQueries.bm25ScoredFor(spark, dir, terms(d, 2))
          .orderBy(col("score").desc, col("doc_id")).limit(k)
      case "chunk" => CurationQueries.chunkBm25For(spark, dir, terms(d, 2))
          .orderBy(col("score").desc, col("doc_id"), col("chunk_id")).limit(k)
      case "ivf" => VectorQueries.ivfKnn(spark, dir, d.uniform(corpus.vectors).toLong)
          .orderBy(col("cos").desc, col("vec_id")).limit(k)
      case "pq" => PqQueries.pqKnn(spark, dir, d.uniform(corpus.vectors).toLong,
          PqQueries.pqServingRerank(dir).max(k))
          .orderBy(col("cos").desc, col("vec_id")).limit(k)
      case "hybrid" => CurationQueries.rrfFused(
          TextQueries.bm25ScoredFor(spark, dir, terms(d, 2)),
          VectorQueries.ivfKnn(spark, dir, d.uniform(corpus.vectors).toLong)
            .select(col("vec_id").as("doc_id"), col("cos"))).limit(k)
      case "phrase" => TextQueries.phraseMatchesFor(spark, dir, phrase(d))
          .orderBy(col("phrase_tf").desc, col("doc_id")).limit(k)
    }
  }
}

object RestSearch {
  val Arms: Seq[String] = Seq("bm25", "chunk", "ivf", "pq", "hybrid", "phrase")
  /** Digest of the probe replies over the fixed corpus. */
  val ProbeDigest = "547ed766df2a45200ea7a42920c845b7"
}
