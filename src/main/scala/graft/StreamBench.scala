package graft

import java.nio.file.Files
import graft.streaming.Flows
import graft.tables.TableStore
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming throughput bench: pushes every lineitem row of
  * SPARK_GRAFT_SF_DIR through the FULL admission flow (validation,
  * redelivery dedup, per-key fold, table swaps, rejection log) and
  * prints one JSON line per measurement with requests/sec.
  *
  * Two flow variants × two batching regimes:
  *   - `admission_throughput[_stateful]`: the whole corpus as ONE
  *     micro-batch — peak bulk throughput.
  *   - `..._multibatch`: the corpus split into SPARK_GRAFT_STREAM_ROUNDS
  *     micro-batches through one long-running query — the steady-state
  *     regime, where the batch-MERGE flow pays O(table + history) per
  *     trigger (snapshot reload + anti-join against the growing
  *     reservas registry) while the keyed-state flow pays O(batch)
  *     (state-store decisions + changelog-sized table merges).
  *
  * Context for the numbers: the reference consumes ONE message at a
  * time per topic partition (single-partition topics, blocking
  * channel, commit-per-message — clientes.yaml:151, inventario/
  * main.go:50-66), so its ceiling is a few hundred messages/sec per
  * consumer.
  *
  * The `packing` and `ingest` variants time the document-side flows the
  * same way. The two-topic consumer saga (`Flows.consumerFlow`) is
  * measured by the perfbench `cdc_saga` workload. */
object StreamBench {
  case class R(id: String, evento: String, email: String, cantidad: Int, seq: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val variant = sys.env.getOrElse("SPARK_GRAFT_STREAM_VARIANT", "both")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROUNDS", "10").toInt
    require(Set("both", "batch", "stateful", "packing", "ingest")(variant),
      s"unknown SPARK_GRAFT_STREAM_VARIANT '$variant' " +
        "(expected both | batch | stateful | packing | ingest)")
    val spark = Sessions.create(logLevel = "ERROR")
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val requests = spark.read.parquet(s"$sfDir/lineitem.parquet").select(
      lower(md5(concat(col("l_orderkey"), lit("-"), col("l_linenumber"),
        lit("-"), col("l_partkey")))).substr(1, 24).as("id"),
      col("l_partkey").cast("string").as("evento"),
      lit("e@y.z").as("email"),
      col("l_quantity").cast("int").as("cantidad"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("seq"))
      .as[R].collect()
    val n = requests.length

    def freshRoot(tag: String): String =
      Files.createTempDirectory(s"graft-streambench-$tag").toString

    /** Feeds `rows` to the flow `start` builds, in `nRounds` micro-
      * batches of ONE long-running query (addData, then drain), and
      * returns the wall seconds from query start to stop. The source
      * has one partition per core: a single-partition MemoryStream
      * would serialize every scan of a batch through one thread. */
    def drive[T: Encoder](rows: Array[T], nRounds: Int)(
        start: Dataset[T] => StreamingQuery): Double = {
      val ms = MemoryStream[T](spark, spark.sparkContext.defaultParallelism)
      val t0 = System.nanoTime()
      val q = start(ms.toDS())
      rows.grouped((rows.length + nRounds - 1) / nRounds).foreach { c =>
        ms.addData(c.toSeq)
        q.processAllAvailable()
      }
      q.stop()
      (System.nanoTime() - t0) / 1e9
    }

    def stateProvider(rocksdb: Boolean): Unit =
      if (rocksdb) {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
      } else
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    def run(metric: String, stateful: Boolean, nRounds: Int,
        rocksdb: Boolean = false): Unit = {
      stateProvider(rocksdb)
      val store = new TableStore(spark, freshRoot("admission"))
      store.init("inventario", spark.read.parquet(s"$sfDir/part.parquet").select(
        col("p_partkey").cast("string").as("id"),
        col("p_partkey").cast("string").as("nombre"),
        (col("p_size") * 1000).as("capacidad"),
        lit("Cat").as("categoria"), lit("A").as("estado"),
        lit(null).cast("string").as("idres"),
        lit(null).cast("string").as("email"),
        lit(null).cast("int").as("canres")))
      store.init("reservas", graft.sources.Tables.reservas(spark).limit(0))
      // state carries over in the state store for the stateful variant
      val flows = new Flows(spark, store, trigger = Trigger.ProcessingTime(0))
      val secs = drive(requests, nRounds) { ds =>
        if (stateful) flows.admissionFlowStateful(ds.toDF())
        else flows.admissionFlow(ds.toDF())
      }
      val admitted = store.load("reservas").count()
      println(s"""{"metric":"$metric","requests":$n,"admitted":$admitted,""" +
        s""""batches":$nRounds,"sec":$secs,"req_per_sec":${(n / secs).toLong},"sf":"$sfDir"}""")
    }

    // ------------------------------------------------------------------
    // S19 pack-on-ingest throughput: the documents corpus through the
    // full PackingFlow topology (codegen tokenize → per-shard typed
    // ValueState offset fold + offset-scoped dedup map → manifest
    // appendUnique). RocksDB provider — transformWithState requires
    // multiple column families. Reported per-batch docs/sec is the
    // ingest-side rate a trainer's window supply sustains.
    def runPacking(metric: String, nRounds: Int): Unit = {
      stateProvider(rocksdb = true)
      val store = new TableStore(spark, freshRoot("pack"))
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"), col("lang").cast("string"),
          col("text"))
        .as[(Long, String, String)].collect()
      val nd = docs.length
      val secs = drive(docs, nRounds) { ds =>
        graft.streaming.PackingFlow.flow(store, ds.toDF("doc_id", "lang", "text"),
          trigger = Trigger.ProcessingTime(0))
      }
      val spans = store.load("packing_manifest").count()
      println(s"""{"metric":"$metric","docs":$nd,"spans":$spans,""" +
        s""""batches":$nRounds,"sec":$secs,""" +
        s""""docs_per_sec":${(nd / secs).toLong},"sf":"$sfDir"}""")
    }

    // ------------------------------------------------------------------
    // S22 gated document-ingest throughput: the documents corpus
    // through documentIngestFlow with the quality AND source-cap
    // gates on. Since r15 both hot-path legs are O(batch)-shaped: the
    // cap denominators come from the source_mass view (version-diff
    // IVM — the r14 form re-scanned the corpus's full text mass every
    // trigger, measured 105 docs/s steady-state with the gate biting)
    // and the dedup decisions merge incrementally (batch-side
    // neighbor broadcast against one narrow scan of the stored
    // fingerprints + affected-cluster re-election, replacing the r14
    // full-corpus recompute per trigger).
    def runIngest(metric: String, nRounds: Int,
        chunkStore: Boolean = false, shardStore: Boolean = false): Unit = {
      val root = freshRoot("ingest")
      val store = new TableStore(spark, root)
      val flows = new graft.streaming.IngestionFlows(spark, store, root,
        trigger = Trigger.ProcessingTime(0),
        quality = graft.streaming.IngestQuality(minTokens = 2),
        // the fixture's 20 sources hold ~5% each — a 3% cap makes the
        // gate genuinely bite, so the measurement covers the refusal
        // path (log upserts), not just the pass-through
        sourceCapPct = Some(3),
        chunkStore = chunkStore,
        shardStore = shardStore)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long"), col("text"),
          col("source").cast("string"), col("lang").cast("string"))
        .as[(Long, String, String, String)].collect()
      val nd = docs.length
      val secs = drive(docs, nRounds) { ds =>
        flows.documentIngestFlow(ds.toDF("doc_id", "text", "source", "lang"))
      }
      val log = store.load("ingest_log")
      val admitted = log.filter(col("admitted")).count()
      val capped = log.filter(col("reason") === "source_cap").count()
      val chunks =
        if (!chunkStore || !store.exists("chunks")) ""
        else s""""chunks":${store.load("chunks").count()},"""
      val shards =
        if (!shardStore || !store.exists("shards")) ""
        else s""""windows":${store.load("shards").count()},"""
      println(s"""{"metric":"$metric","docs":$nd,"admitted":$admitted,""" +
        s""""source_capped":$capped,$chunks$shards"batches":$nRounds,"sec":$secs,""" +
        s""""docs_per_sec":${(nd / secs).toLong},"sf":"$sfDir"}""")
    }

    val runBatch = variant == "both" || variant == "batch"
    val runStateful = variant == "both" || variant == "stateful"
    if (runBatch) run("admission_throughput", stateful = false, 1)
    if (runStateful) run("admission_throughput_stateful", stateful = true, 1)
    if (runBatch)
      run("admission_throughput_multibatch", stateful = false, rounds)
    if (runStateful) {
      run("admission_throughput_stateful_multibatch", stateful = true, rounds)
      // RocksDB state store + changelog checkpointing: the per-trigger
      // checkpoint upload is just the changelog, the working state
      // lives off-heap — the provider a real cluster deployment runs
      run("admission_throughput_stateful_multibatch_rocksdb",
        stateful = true, rounds, rocksdb = true)
    }
    if (variant == "both" || variant == "packing") {
      runPacking("packing_throughput", 1)
      runPacking("packing_throughput_multibatch", rounds)
    }
    if (variant == "both" || variant == "ingest") {
      runIngest("ingest_throughput", 1)
      runIngest("ingest_throughput_multibatch", rounds)
      // the S23 chunk tier's marginal cost on the same gated flow
      runIngest("ingest_throughput_chunks_multibatch", rounds,
        chunkStore = true)
      // the r17 incremental training-shard tier on the same gated flow
      runIngest("ingest_throughput_shards_multibatch", rounds,
        shardStore = true)
    }
    spark.stop()
  }
}
