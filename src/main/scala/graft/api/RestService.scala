package graft.api

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.tables.{MergeOps, TableStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * O6/O7 — the reference's HTTP read/write surface, re-expressed as a
 * parameter-binding layer over the engine's tables.
 *
 * Route inventory mirrors the two Go services exactly
 * (eventos/main.go:38-41, reservas/main.go:48-53):
 *
 *   GET    /eventos                     list events
 *   GET    /eventos/{nombre}            point lookup by unique name
 *   POST   /eventos                     create (estado=A, fresh id)
 *   DELETE /eventos/{nombre}            organizer cancel (estado→C)
 *   GET    /reservas/eventos            list inventory
 *   GET    /reservas/eventos/{nombre}   inventory point lookup
 *   GET    /reservas/{evento}/{email}   customer's reservations
 *   GET    /reservas/{id}               reservation by 24-hex id
 *   POST   /reservas                    reserve seats (guarded decrement)
 *   DELETE /reservas/{id}               customer cancel (CAS A→X)
 *
 * Engine-side control-plane routes beyond the reference:
 *
 *   GET /query/{name}?limit=            any declared query, limit-capped
 *   GET /query/{name}/plan              formatted physical plan (no exec)
 *   GET /search?q=&k=[&unit=chunk]      parameterized BM25 retrieval
 *   GET /search?like=&k=                dense more-like-this (stored IVF)
 *   GET /search?q=&like=&k=             hybrid RRF fusion of both arms
 *   GET /metrics[/{flow}]               per-batch flow telemetry rows
 *   GET /tables/{t}/version             live version number
 *   GET /tables/{t}/at/{v}?limit=       time-travel snapshot read
 *   GET /tables/{t}/changes?from=&to=&key=   version-diff CDC feed
 *   GET /tables/{t}/drift?from=&to=     column-profile diff (data card)
 *   DELETE /subjects/{email}            GDPR data-subject erasure
 *   DELETE /subjects/documents/{id}     GDPR corpus-doc erasure — 202 + async job
 *   GET /subjects/documents/{id}/purge  purge-job status (pending/done/failed)
 *   GET /subjects/documents/{id}/verify erasure-completeness check (residual refs)
 *
 * JSON field names and error texts follow the Go structs' marshal
 * output (contratos/contratos.go:7-37 — `Inventario.Disponible`,
 * `DetReserva`'s `idres`/`nombre`/`canres` renames, `Reserva`'s `_id`)
 * so a reference client can point at this service unchanged.
 *
 * Semantics: each parameter binds into a Catalyst filter on the backing
 * table (point lookups are pushed-down scans, never driver-side
 * seeks), and each write is the corresponding MergeOps primitive — the
 * SAME primitives the streaming flows run, so the sync API and the
 * async saga cannot disagree on admission rules. POST /reservas
 * collapses the reference's async saga (guarded inventory decrement,
 * then the reservation row landing via CDC) into one handler: it
 * applies the O19 guarded decrement and persists the settled
 * reservation row, which is exactly the saga's fixed point (S2/S4
 * prove the async route reaches the same state).
 *
 * Scale stance: this is the interactive seam, not the bulk path —
 * handlers serialize through one writer lock (the reference leans on
 * Mongo's per-document findAndModify for the same guarantee), reads
 * collect only point lookups or dimension-sized listings, and bulk
 * mutation traffic belongs on the streaming flows. The server is
 * JDK-built-in (com.sun.net.httpserver), so the API layer adds no
 * dependency beyond Spark itself.
 */
final class RestService(spark: SparkSession, store: TableStore,
    port: Int = 0, idGen: () => String = RestService.objectIdGen(),
    analyticsDir: Option[String] = None,
    // must match the IngestionFlows(spanCleanN) the deployment runs:
    // the GDPR document purge recomputes documents_clean and would
    // otherwise silently flip the derived table to a different span
    // length than the flow maintains
    spanCleanN: Int = 5) {

  private val mapper = new ObjectMapper()
  private val lock = new Object
  // corpus-document purges run OFF the request thread: the purge
  // recomputes the derived stores (dedup_decisions, documents_clean)
  // from the full corpus, so at real corpus sizes a synchronous
  // handler would hold the writer lock past any client timeout. One
  // daemon worker serializes purges among themselves; each job takes
  // the same writer lock as every other mutation while it runs.
  private val purgeExec = java.util.concurrent.Executors
    .newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-purge"); t.setDaemon(true); t
    })
  // doc_id → (status, lastUpdateMillis). Terminal statuses are kept
  // for [[RestService.PurgeStatusRetentionMs]] so clients can poll
  // completion, then evicted on the next submit — without eviction a
  // long-lived serving process would retain one entry per doc_id ever
  // purged (the same unbounded-growth class the stored-index
  // retired-root sweep closes).
  private val purgeJobs =
    new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
  private val purgeSeq = new AtomicLong(0L)

  private def evictStalePurgeStatuses(): Unit = {
    val cut = System.currentTimeMillis() - RestService.PurgeStatusRetentionMs
    val it = purgeJobs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!e.getValue._1.startsWith("pending") && e.getValue._2 <= cut)
        it.remove()
    }
  }
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/eventos", (ex: HttpExchange) => safely(ex)(routeEventos))
  server.createContext("/reservas", (ex: HttpExchange) => safely(ex)(routeReservas))
  server.createContext("/query", (ex: HttpExchange) => safely(ex)(routeQuery))
  server.createContext("/metrics", (ex: HttpExchange) => safely(ex)(routeMetrics))
  server.createContext("/tables", (ex: HttpExchange) => safely(ex)(routeTables))
  server.createContext("/subjects", (ex: HttpExchange) => safely(ex)(routeSubjects))
  server.createContext("/search", (ex: HttpExchange) => safely(ex)(routeSearch))
  // READ CONCURRENCY (r17): handlers run on a small fixed pool
  // instead of the dispatcher thread. Writes still serialize — every
  // mutation takes the single writer `lock` (the reference leans on
  // Mongo's per-document findAndModify for the same guarantee), so
  // pooling changes nothing about write semantics — while reads
  // (point lookups, /search probes, /metrics) no longer queue behind
  // an in-flight write or behind each other. Reads were ALWAYS
  // concurrent with the streaming flows' writes (the versioned store
  // serves committed snapshots), so a read racing an HTTP write is
  // not a new consistency class; RestConcurrencySpec pins both
  // properties with a latch-held writer lock. Pool is small and
  // bounded: this is the interactive seam — bulk traffic belongs on
  // the flows.
  private val httpPool = java.util.concurrent.Executors
    .newFixedThreadPool(RestService.HttpPoolThreads, r => {
      val t = new Thread(r, "graft-http"); t.setDaemon(true); t
    })
  server.setExecutor(httpPool)

  def start(): Unit = {
    server.start()
    // Pre-warm the search tier's stored indexes OFF the request
    // path (r16 ADVICE): a COLD first search would otherwise pay the
    // postings/IVF build inside its request — occupying one of the
    // HttpPoolThreads pool slots for the whole build and adding
    // seconds to that caller's latency — so the daemon build runs
    // during startup slack instead. Warm-path requests racing the
    // build converge on the same StoredIndexes cache entry
    // (compute() serializes per key), so no double build.
    analyticsDir.foreach { dir =>
      val t = new Thread(() => {
        try {
          graft.operators.PostingsIndex.forDir(spark, dir)
          graft.operators.VectorIndex.forDir(spark, dir)
          ()
        } catch { case e: Throwable => // a cold build retries on demand
          System.err.println(s"[rest] search prewarm over $dir failed " +
            s"(the first /search builds instead): $e")
        }
      }, "graft-search-prewarm")
      t.setDaemon(true)
      t.start()
    }
  }

  /** Stop accepting requests FIRST, then drain the purge worker: a
    * 202-accepted purge whose job is still queued must run before the
    * process exits, or the acceptance was a lie. The purge registry is
    * deliberately in-memory (this is the interactive seam; acceptance
    * is not a durable contract across a CRASH): a client whose status
    * poll 404s after a restart re-submits — the purge is idempotent,
    * so the re-submit is always safe. */
  def stop(): Unit = {
    server.stop(0)
    httpPool.shutdown()
    purgeExec.shutdown()
    purgeExec.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }
  def boundPort: Int = server.getAddress.getPort

  // ------------------------------------------------------------------
  // routing
  // ------------------------------------------------------------------

  private def segments(ex: HttpExchange): List[String] =
    ex.getRequestURI.getPath.split("/").toList
      .filter(_.nonEmpty).map(URLDecoder.decode(_, UTF_8))

  private def safely(ex: HttpExchange)(f: HttpExchange => Unit): Unit =
    try f(ex)
    catch {
      case e: Throwable =>
        // if the handler already sent headers, this second reply throws;
        // swallow it rather than escaping into the HttpServer dispatcher
        try reply(ex, 500, s"Internal Server Error: ${e.getMessage}")
        catch { case _: Throwable => () }
    } finally ex.close()

  private def routeEventos(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex)) match {
      case ("GET", List("eventos")) => listEventos(ex)
      case ("GET", List("eventos", nombre)) => getEvento(ex, nombre)
      case ("POST", List("eventos")) => postEvento(ex)
      case ("DELETE", List("eventos", nombre)) => deleteEvento(ex, nombre)
      case _ => reply(ex, 404, "Not Found")
    }

  private def routeReservas(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex)) match {
      case ("GET", List("reservas", "eventos")) => listInventario(ex)
      case ("GET", List("reservas", "eventos", nombre)) => getInventario(ex, nombre)
      case ("GET", List("reservas", evento, email)) => getReservasCliente(ex, evento, email)
      case ("GET", List("reservas", id)) => getReservaId(ex, id)
      case ("POST", List("reservas")) => postReserva(ex)
      case ("DELETE", List("reservas", id)) => deleteReservaId(ex, id)
      case _ => reply(ex, 404, "Not Found")
    }

  /** Doc-id path-segment extractor: ASCII digits only (Character
    * .isDigit admits non-ASCII digit aliases) and Long-parseable
    * (overflow digits must 404, not 500 through toLong). */
  private object DocId {
    def unapply(id: String): Option[Long] =
      if (id.nonEmpty && id.forall(c => c >= '0' && c <= '9'))
        scala.util.Try(id.toLong).toOption
      else None
  }

  /** DELETE /subjects/{email} — data-subject erasure (GDPR art. 17)
    * over the operational tables, the [[graft.tables.Gdpr]] purge
    * behind the same writer lock every other mutation takes. Returns
    * the per-table affected-row report; idempotent, so a retried
    * erasure request reports zeros rather than erroring. */
  private def routeSubjects(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex)) match {
      case ("DELETE", List("subjects", email)) => lock.synchronized {
        val rep = graft.tables.Gdpr.purgeSubject(store, email)
        replyJson(ex, 200,
          s"""{"redacted_reservas":${rep.redactedReservas},""" +
            s""""deleted_notificaciones":${rep.deletedNotificaciones},""" +
            s""""deleted_dead_letter":${rep.deletedDeadLetter}}""")
      }
      // DELETE /subjects/documents/{doc_id} — corpus-document erasure
      // through the flow-derived stores (dedup decisions, cleaned
      // corpus, ingest log) via Gdpr.purgeDocuments. The guard is
      // ASCII-digits + parseable: Character.isDigit alone admits
      // non-ASCII digits and Long-overflow strings, turning a
      // malformed id into a 500 (or a silent alias) instead of a 404.
      // ASYNC (202): the purge recomputes the corpus-derived stores,
      // so the handler only ENQUEUES the job — the response names the
      // status and verify URLs; completion is polled, never awaited on
      // the HTTP thread. Re-submitting while a purge is pending is a
      // no-op re-accept; re-submitting after completion re-runs the
      // (idempotent) purge, which then reports deleted_documents 0.
      case ("DELETE", List("subjects", "documents", DocId(docId))) =>
        // each submit gets a GENERATION-stamped pending marker: a
        // worker only runs for (and only resolves) its own marker, so
        // a re-submit arriving between a purge's completion and its
        // status write can neither be skipped nor have its pending
        // state clobbered by the older job's terminal status — a bare
        // "pending" string made those two markers indistinguishable
        evictStalePurgeStatuses()
        val marker = s"pending:${purgeSeq.incrementAndGet()}"
        val markerEntry = (marker, System.currentTimeMillis())
        purgeJobs.put(docId, markerEntry)
        try purgeExec.execute(() => {
          // a newer submit supersedes this job; its own queued run
          // (the worker is single-threaded, so strictly after us)
          // will do the purge
          val cur = purgeJobs.get(docId)
          if (cur != null && cur._1 == marker) {
            val st =
              try {
                val n = lock.synchronized {
                  graft.tables.Gdpr.purgeDocuments(store, Seq(docId),
                    spanCleanN)
                }
                s"done:$n"
              } catch { case e: Throwable => s"failed:${e.getMessage}" }
            purgeJobs.replace(docId, cur,
              (st, System.currentTimeMillis()))
            ()
          }
        })
        catch {
          // a DELETE racing stop(): refuse honestly instead of leaving
          // a phantom "pending" that no worker will ever resolve
          case _: java.util.concurrent.RejectedExecutionException =>
            purgeJobs.remove(docId, markerEntry)
            reply(ex, 503, "service shutting down; purge not accepted")
            return
        }
        ex.getResponseHeaders.add("Location",
          s"/subjects/documents/$docId/purge")
        replyJson(ex, 202,
          s"""{"accepted":true,"doc_id":$docId,""" +
            s""""status":"/subjects/documents/$docId/purge",""" +
            s""""verify":"/subjects/documents/$docId/verify"}""")
      // GET /subjects/documents/{id}/purge — purge-job status: the
      // completion/error side of the 202 contract (verify answers
      // "is it gone", this answers "did my job run, and what did it
      // delete / why did it fail")
      case ("GET", List("subjects", "documents", DocId(docId), "purge")) =>
        purgeJobs.get(docId) match {
          case null => reply(ex, 404, "no purge submitted for this doc")
          case (s, _) if s.startsWith("pending") =>
            replyJson(ex, 200, """{"status":"pending"}""")
          case (s, _) if s.startsWith("done:") => replyJson(ex, 200,
            s"""{"status":"done","deleted_documents":${s.drop(5)}}""")
          case (s, _) => replyJson(ex, 200,
            s"""{"status":"failed","error":${mapper.writeValueAsString(
              s.drop(7))}}""")
        }
      // GET /subjects/documents/{id}/verify — the second half of the
      // erasure SLA loop (purge → quiesce flows → verify): which
      // stores still reference the doc. Empty residual = erasure
      // complete in corpus AND derived tables.
      case ("GET", List("subjects", "documents", DocId(docId), "verify")) =>
        val residual = graft.tables.Gdpr.verifyErasure(store, Seq(docId))
        val body = residual.toSeq.sortBy(_._1)
          .map { case (t, n) => "\"" + t + "\":" + n }
          .mkString("{", ",", "}")
        replyJson(ex, 200,
          s"""{"erased":${residual.isEmpty},"residual":$body}""")
      case _ => reply(ex, 404, "Not Found")
    }

  /** GET /metrics[/{flow}] — the ops surface over FlowMetrics'
    * `flow_metrics` table: the most recent batches (bounded by a
    * plan-side top-k on batch_id desc, never an unbounded collect), so
    * a dashboard or a lag alarm reads consumer telemetry over HTTP the
    * same way data readers use /query. 404s cleanly when no listener
    * has ever recorded a batch. */
  private def routeMetrics(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex)) match {
      case ("GET", "metrics" :: rest) if rest.length <= 1 =>
        if (!store.exists("flow_metrics"))
          reply(ex, 404, "no flow metrics recorded")
        else {
          val base = store.load("flow_metrics")
          val scoped = rest.headOption.fold(base)(f =>
            base.filter(col("flow") === f))
          val rows = scoped
            .orderBy(col("batch_id").desc, col("run_id"))
            .limit(100).toJSON.collect()
          replyJson(ex, 200, rows.mkString("[", ",", "]"))
        }
      case _ => reply(ex, 404, "Not Found")
    }

  /** GET /query/{name}[?limit=N] — the analytics side of O6: every
    * declared engine query (SparkEntry.queries) becomes an HTTP
    * endpoint over `analyticsDir`. The name binds to the prebuilt
    * Catalyst plan; `limit` caps the response rows DRIVER-SIDE VIA THE
    * PLAN (a `.limit` on top — TakeOrdered/CollectLimit, never a full
    * collect of an unbounded result). Rows serialize through Spark's
    * own toJSON (schema-faithful, codegen'd). */
  private def routeQuery(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex), analyticsDir) match {
      case (_, _, None) => reply(ex, 404, "analytics surface not enabled")
      // the ops EXPLAIN surface: the formatted physical plan of any
      // declared query, so a dashboard or a reviewer checks pushdown/
      // broadcast shapes over HTTP without a Spark shell. The QUERY
      // itself never executes, but a few builders lawfully run
      // bounded driver-side work while CONSTRUCTING the plan: the
      // fingerprint-cached corpus-metadata builds (stored indexes,
      // learned profiles, codebooks — amortized, rebuilt only on a
      // corpus-version change) and O(1)-row scalar reads (ANN query
      // vectors, x57's capped candidate pre-pass). A plan request can
      // therefore pay a first-touch metadata build; it cannot trigger
      // an unbounded query execution. (x61/x71/x90 were migrated to
      // keep their scalars in-plan for exactly this reason.)
      case ("GET", List("query", name, "plan"), Some(dir)) =>
        graft.SparkEntry.queries.get(name) match {
          case None => reply(ex, 404, s"unknown query $name")
          case Some(build) => reply(ex, 200,
            build(spark, dir).queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
        }
      case ("GET", List("query", name), Some(dir)) =>
        graft.SparkEntry.queries.get(name) match {
          case None => reply(ex, 404, s"unknown query $name")
          case Some(build) =>
            val limit = Option(ex.getRequestURI.getQuery)
              .flatMap(_.split("&").collectFirst {
                case p if p.startsWith("limit=") =>
                  p.drop(6).toIntOption.getOrElse(100)
              }).getOrElse(100).min(10000).max(1)
            val rows = build(spark, dir).limit(limit)
              .toJSON.collect()
            replyJson(ex, 200, rows.mkString("[", ",", "]"))
        }
      case _ => reply(ex, 404, "Not Found")
    }

  // Parameterized retrieval over the stored corpus (r16 — the r15
  // verdict's ask #3): the x94 / x133 BM25 scorers serve ARBITRARY
  // q-terms instead of the benchmark's fixed three, turning the
  // retrieval tier into a usable component. The terms bind into the
  // occurrence filter of the SAME audited O(term-occurrences) plans
  // (bm25ScoredFor / chunkBm25For — one definition with the declared
  // queries, so the endpoint and the benchmark cannot drift); ranking
  // is (score desc, id…), k is capped like /query's limit.
  //   GET /search?q=<terms>&k=N             document-level BM25 (x94)
  //   GET /search?q=<terms>&k=N&unit=chunk  chunk-granular BM25 (x133)
  //   GET /search?like=<vec_id>&k=N         dense more-like-this (x20's
  //                                         stored-IVF probe; 404 on an
  //                                         unknown vec_id). &nprobe=N
  //                                         overrides the probe width
  //                                         (clamped to the cell count);
  //                                         default = the retuneIvf
  //                                         policy's measured-recall pick
  //   GET /search?like=<vec_id>&index=srp   dense more-like-this off the
  //                                         SRP index instead (x11's
  //                                         bucket-pruned probe, multi-
  //                                         probe widened). &radius=R
  //                                         overrides the Hamming probe
  //                                         radius (clamped to the bit
  //                                         width); default = the
  //                                         retuneSrp policy's
  //                                         measured-recall pick (x150)
  //   GET /search?like=<vec_id>&index=pq    dense more-like-this off the
  //                                         stored PQ code table: ADC
  //                                         top-R candidates re-ranked
  //                                         by exact cosine. &rerank=R
  //                                         overrides the re-rank depth
  //                                         (capped 1024); default = the
  //                                         retunePq policy's
  //                                         measured-recall pick (x151).
  //                                         The effective depth never
  //                                         drops below k — a depth < k
  //                                         cannot fill the response
  //   GET /search?like=<vec_id>&index=ivfadc  the composed billion-scale
  //                                         pipeline (x152): probe nProbe
  //                                         cells, ADC-scan only their
  //                                         stored codes, re-rank top R
  //                                         exactly. Takes BOTH &nprobe=
  //                                         and &rerank=; defaults = the
  //                                         two measured policies.
  //                                         &label=L restricts to one
  //                                         metadata label (x153) — a
  //                                         PRE-filter pushed into the
  //                                         same pruned code scan
  //   GET /search?q=<terms>&like=<vec_id>   HYBRID: RRF fusion of the two
  //                                         arms (x128's combiner; IVF
  //                                         dense arm only)
  //   GET /search?phrase=<terms>&k=N        exact-adjacency phrase match
  //                                         over the positional postings
  //                                         (x144's probe; order kept,
  //                                         duplicates meaningful).
  //                                         &snippet=1 adds each hit's
  //                                         densest 32-token window
  //   GET /search?q=<terms>&snippet=1       doc-level BM25 + best-window
  //                                         offsets (x145's probe)
  //   GET /search?prefix=<p>&k=N            vocabulary listing for a
  //                                         token prefix (x146's probe;
  //                                         df desc, token asc)
  //   GET /search?near=<terms>&span=S&k=N   ordered proximity (x147's
  //                                         probe; terms in order, whole
  //                                         match within span+1 tokens,
  //                                         span default 8, max 256)
  private def routeSearch(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex), analyticsDir) match {
      case (_, _, None) => reply(ex, 404, "analytics surface not enabled")
      case ("GET", List("search"), Some(dir))
          if qparam(ex, "like").isDefined =>
        qparam(ex, "like").get.toLongOption match {
          case None => reply(ex, 400, "like must be a vec_id (long)")
          // unit selects a LEXICAL granularity; the dense/hybrid arms
          // are doc-level only — reject rather than silently downgrade
          case Some(_) if qparam(ex, "unit").exists(_ != "doc") =>
            reply(ex, 400, "unit is not supported with like")
          // a PRESENT-but-empty q is a client error (the lone-q route
          // 400s it) — not a silent dense-only downgrade in a
          // different response schema
          case Some(_) if qparam(ex, "q").exists(
              _.split("\\s+").forall(_.isEmpty)) =>
            reply(ex, 400, "missing or empty q parameter")
          // phrase is a lexical-only arm: adjacency has no dense rank
          // to fuse with — reject rather than silently ignore it
          case Some(_) if qparam(ex, "phrase").isDefined =>
            reply(ex, 400, "phrase cannot combine with like")
          case Some(_) if qparam(ex, "prefix").isDefined =>
            reply(ex, 400, "prefix cannot combine with like")
          case Some(_) if qparam(ex, "near").isDefined =>
            reply(ex, 400, "near cannot combine with like")
          // snippets are positional-postings features of the lexical
          // arms; silently dropping the flag would tell the client a
          // lie about its response (the loud-validation rule)
          case Some(_) if qparam(ex, "snippet").isDefined =>
            reply(ex, 400, "snippet is not supported with like")
          // a malformed width is a client error, like a malformed
          // like= — never a silent fall-through to the default
          case Some(_) if qparam(ex, "nprobe").exists(
              _.toIntOption.forall(_ < 1)) =>
            reply(ex, 400, "nprobe must be a positive integer")
          // index picks the dense family; anything but the three
          // stored indexes is a client error, not a silent IVF fallback
          case Some(_) if qparam(ex, "index").exists(
              i => i != "ivf" && i != "srp" && i != "pq" &&
                i != "ivfadc") =>
            reply(ex, 400, "index must be ivf, srp, pq or ivfadc")
          // each family's probe knob is its own: radius widens SRP's
          // Hamming probe, rerank deepens PQ's exact re-rank, nprobe
          // widens IVF's cell probe — a knob on the wrong family
          // would be silently meaningless
          case Some(_) if qparam(ex, "radius").isDefined &&
              !qparam(ex, "index").contains("srp") =>
            reply(ex, 400, "radius requires index=srp")
          case Some(_) if qparam(ex, "rerank").isDefined &&
              !qparam(ex, "index").exists(
                i => i == "pq" || i == "ivfadc") =>
            reply(ex, 400, "rerank requires index=pq or index=ivfadc")
          case Some(_) if qparam(ex, "nprobe").isDefined &&
              qparam(ex, "index").exists(
                i => i == "srp" || i == "pq") =>
            reply(ex, 400,
              "nprobe is an ivf/ivfadc knob; use radius with srp, " +
                "rerank with pq")
          case Some(_) if qparam(ex, "radius").exists(
              _.toIntOption.forall(_ < 0)) =>
            reply(ex, 400, "radius must be a non-negative integer")
          case Some(_) if qparam(ex, "rerank").exists(
              _.toIntOption.forall(_ < 1)) =>
            reply(ex, 400, "rerank must be a positive integer")
          // the metadata filter lives inline in the IVFADC code
          // sidecar — the only arm that can push it into its scan
          case Some(_) if qparam(ex, "label").isDefined &&
              !qparam(ex, "index").contains("ivfadc") =>
            reply(ex, 400, "label requires index=ivfadc")
          case Some(_) if qparam(ex, "label").exists(
              _.toIntOption.isEmpty) =>
            reply(ex, 400, "label must be an integer")
          // a filter against a corpus without label metadata is a
          // client error up front, not a missing-column 500 later
          case Some(_) if qparam(ex, "label").isDefined &&
              !graft.operators.PqQueries.hasLabels(spark, dir) =>
            reply(ex, 400, "corpus has no label metadata")
          // the hybrid combiner fuses the IVF dense arm (x128's
          // definition) — reject rather than silently swap the arm
          case Some(_) if qparam(ex, "index").exists(_ != "ivf") &&
              qparam(ex, "q").isDefined =>
            reply(ex, 400,
              "hybrid fusion serves the ivf arm; drop index=" +
                qparam(ex, "index").get)
          case Some(vid) =>
            val k = qparam(ex, "k").flatMap(_.toIntOption)
              .getOrElse(10).min(100).max(1)
            // probe-width override (r16 verdict ask #2): bounded like
            // k; absent = the measured-recall serving policy
            // (VectorQueries.servingProbeWidth — retuneIvf sets it
            // from the x142 curve); ivfKnn clamps to the cell count
            val nprobe = qparam(ex, "nprobe").flatMap(_.toIntOption)
              .getOrElse(-1).min(1024)
            val terms = qparam(ex, "q").toSeq
              .flatMap(_.split("\\s+")).filter(_.nonEmpty).distinct
            try {
              if (terms.isEmpty) {
                // dense-only more-like-this: the stored-IVF probe, the
                // SRP multi-probe at the measured serving radius
                // (retuneSrp's x150 pick), or the PQ code scan + exact
                // re-rank at the measured depth (retunePq's x151 pick)
                // the effective re-rank depth floors at k: a depth
                // below k deterministically truncates the response
                // (the candidate set IS capped at depth rows), which
                // would be a silent drop — the clamp is the same
                // doctrine as nprobe-to-cell-count and radius-to-K
                val rerank = (qparam(ex, "rerank")
                  .flatMap(_.toIntOption)
                  .getOrElse(graft.operators.PqQueries
                    .pqServingRerank(dir))
                  .min(1024)).max(k)
                val knn = qparam(ex, "index") match {
                  case Some("srp") =>
                    graft.operators.VectorQueries.srpKnn(spark, dir, vid,
                      qparam(ex, "radius").flatMap(_.toIntOption)
                        .getOrElse(-1))
                  case Some("pq") =>
                    graft.operators.PqQueries.pqKnn(spark, dir, vid,
                      rerank)
                  case Some("ivfadc") =>
                    graft.operators.PqQueries.ivfadcKnn(spark, dir, vid,
                      nprobe, rerank,
                      qparam(ex, "label").flatMap(_.toIntOption))
                  case _ => graft.operators.VectorQueries
                    .ivfKnn(spark, dir, vid, nprobe)
                }
                val rows = knn
                  .orderBy(col("cos").desc, col("vec_id"))
                  .limit(k).collect()
                  .map(r => Json.obj("vec_id" -> r.getLong(0),
                    "cos" -> r.getDouble(1)))
                replyJson(ex, 200, Json.arr(rows.toIndexedSeq))
              } else if (terms.size > RestService.SearchMaxTerms ||
                  terms.exists(_.length > RestService.SearchMaxTermLen)) {
                reply(ex, 400,
                  s"q is limited to ${RestService.SearchMaxTerms} " +
                    s"terms of at most ${RestService.SearchMaxTermLen} chars")
              } else {
                // HYBRID: x128's RRF combiner over the parameterized
                // arms — terms-bound BM25 × vec_id-bound IVF cosine
                val rows = graft.operators.CurationQueries.rrfFused(
                    graft.operators.TextQueries
                      .bm25ScoredFor(spark, dir, terms),
                    graft.operators.VectorQueries
                      .ivfKnn(spark, dir, vid, nprobe)
                      .select(col("vec_id").as("doc_id"), col("cos")))
                  .limit(k).collect()
                  .map(r => Json.obj("doc_id" -> r.getLong(0),
                    "lex_rank" ->
                      (if (r.isNullAt(1)) null else r.getLong(1)),
                    "den_rank" ->
                      (if (r.isNullAt(2)) null else r.getLong(2)),
                    "rrf" -> r.getDouble(3)))
                replyJson(ex, 200, Json.arr(rows.toIndexedSeq))
              }
            } catch {
              case e: NoSuchElementException => reply(ex, 404, e.getMessage)
            }
        }
      case ("GET", List("search"), Some(dir))
          if qparam(ex, "near").isDefined =>
        // ORDER PRESERVED, duplicates kept — "a b a" is a chain of
        // three; x147's probe walks positions by in-query index
        val toks = qparam(ex, "near").toSeq
          .flatMap(_.split("\\s+")).filter(_.nonEmpty)
        val k = qparam(ex, "k").flatMap(_.toIntOption)
          .getOrElse(10).min(100).max(1)
        // a malformed span is a client error like a malformed nprobe —
        // never a silent fall-through to the default
        val spanRaw = qparam(ex, "span")
        val span = spanRaw.flatMap(_.toIntOption).getOrElse(8)
        if (toks.isEmpty) reply(ex, 400, "missing or empty near parameter")
        else if (toks.size < 2)
          reply(ex, 400, "near requires at least two terms")
        else if (Seq("q", "phrase", "like", "prefix", "unit", "snippet",
            "nprobe", "index", "radius", "rerank", "label")
            .exists(qparam(ex, _).isDefined))
          reply(ex, 400, "near cannot combine with other search parameters")
        else if (spanRaw.exists(s =>
            s.toIntOption.forall(v => v < 1 || v > 256)))
          reply(ex, 400, "span must be an integer in [1, 256]")
        else if (toks.size > RestService.SearchMaxTerms ||
            toks.exists(_.length > RestService.SearchMaxTermLen))
          reply(ex, 400, s"near is limited to ${RestService.SearchMaxTerms} " +
            s"tokens of at most ${RestService.SearchMaxTermLen} chars")
        else {
          val rows = graft.operators.TextQueries
            .proximityMatchesFor(spark, dir, toks, span)
            .orderBy(col("prox_tf").desc, col("doc_id"))
            .limit(k).collect()
            .map(r => Json.obj("doc_id" -> r.getLong(0),
              "prox_tf" -> r.getLong(1)))
          replyJson(ex, 200, Json.arr(rows.toIndexedSeq))
        }
      case ("GET", List("search"), Some(dir))
          if qparam(ex, "prefix").isDefined =>
        val p = qparam(ex, "prefix").get
        val k = qparam(ex, "k").flatMap(_.toIntOption)
          .getOrElse(10).min(100).max(1)
        if (p.isEmpty) reply(ex, 400, "missing or empty prefix parameter")
        // prefix is its own arm — combining it with any retrieval
        // parameter is a client error, never a silent drop
        else if (Seq("q", "phrase", "like", "near", "span", "unit",
            "snippet", "nprobe", "index", "radius", "rerank", "label")
            .exists(qparam(ex, _).isDefined))
          reply(ex, 400, "prefix cannot combine with other search parameters")
        else if (p.length > RestService.SearchMaxTermLen ||
            p.exists(_.isWhitespace))
          reply(ex, 400, s"prefix is one token fragment of at most " +
            s"${RestService.SearchMaxTermLen} chars")
        else {
          val rows = graft.operators.TextQueries
            .prefixVocabFor(spark, dir, p)
            .orderBy(col("df").desc, col("token"))
            .limit(k).collect()
            .map(r => Json.obj("token" -> r.getString(0),
              "df" -> r.getLong(1), "n_occ" -> r.getLong(2)))
          replyJson(ex, 200, Json.arr(rows.toIndexedSeq))
        }
      case ("GET", List("search"), Some(dir))
          if qparam(ex, "phrase").isDefined =>
        // ORDER PRESERVED and duplicates KEPT — "a b a" and "a a b"
        // are different phrases; x144's probe aligns positions by
        // in-phrase index, so the raw token sequence is the input
        val toks = qparam(ex, "phrase").toSeq
          .flatMap(_.split("\\s+")).filter(_.nonEmpty)
        val k = qparam(ex, "k").flatMap(_.toIntOption)
          .getOrElse(10).min(100).max(1)
        if (toks.isEmpty) reply(ex, 400, "missing or empty phrase parameter")
        else if (qparam(ex, "q").isDefined ||
            qparam(ex, "unit").exists(_ != "doc"))
          reply(ex, 400, "phrase cannot combine with q or a non-doc unit")
        else if (qparam(ex, "nprobe").isDefined)
          reply(ex, 400, "nprobe requires like")
        else if (qparam(ex, "index").isDefined ||
            qparam(ex, "radius").isDefined ||
            qparam(ex, "rerank").isDefined ||
            qparam(ex, "label").isDefined)
          reply(ex, 400, "index/radius/rerank/label require like")
        else if (qparam(ex, "span").isDefined)
          reply(ex, 400, "span requires near")
        else if (toks.size > RestService.SearchMaxTerms ||
            toks.exists(_.length > RestService.SearchMaxTermLen))
          reply(ex, 400, s"phrase is limited to ${RestService.SearchMaxTerms} " +
            s"tokens of at most ${RestService.SearchMaxTermLen} chars")
        else {
          val ranked = graft.operators.TextQueries
            .phraseMatchesFor(spark, dir, toks)
            .orderBy(col("phrase_tf").desc, col("doc_id"))
            .limit(k)
          if (qparam(ex, "snippet").contains("1")) {
            // best window of the phrase's distinct terms per hit doc;
            // the k-row ranked side joins against the O(matching docs)
            // window frame — inner by construction (a phrase hit is a
            // term hit), left for schema honesty
            val rows = ranked
              .join(graft.operators.TextQueries
                .bestWindowFor(spark, dir, toks.distinct),
                Seq("doc_id"), "left")
              .orderBy(col("phrase_tf").desc, col("doc_id"))
              .collect()
              .map(r => Json.obj("doc_id" -> r.getLong(0),
                "phrase_tf" -> r.getLong(1),
                "win_start" -> (if (r.isNullAt(2)) null else r.getLong(2)),
                "win_hits" -> (if (r.isNullAt(3)) null else r.getLong(3))))
            replyJson(ex, 200, Json.arr(rows.toIndexedSeq))
          } else {
            val rows = ranked.collect()
              .map(r => Json.obj("doc_id" -> r.getLong(0),
                "phrase_tf" -> r.getLong(1)))
            replyJson(ex, 200, Json.arr(rows.toIndexedSeq))
          }
        }
      case ("GET", List("search"), Some(dir)) =>
        // qparam already URL-decodes ('+' and %XX) — decoding again
        // here would corrupt literal '+'/'%' terms (review-caught).
        // Duplicate terms are score no-ops (the scorer keys tf by
        // token), dropped for a cleaner isin.
        val terms = qparam(ex, "q").toSeq
          .flatMap(_.split("\\s+"))
          .filter(_.nonEmpty).distinct
        val k = qparam(ex, "k").flatMap(_.toIntOption)
          .getOrElse(10).min(100).max(1)
        if (terms.isEmpty) reply(ex, 400, "missing or empty q parameter")
        // the term list binds into the plan as isin literals — bound
        // user input like /query bounds limit (an unbounded q would
        // build a pathological plan and, on the single-threaded JDK
        // server, stall every other route while it runs)
        else if (terms.size > RestService.SearchMaxTerms ||
            terms.exists(_.length > RestService.SearchMaxTermLen))
          reply(ex, 400, s"q is limited to ${RestService.SearchMaxTerms} " +
            s"terms of at most ${RestService.SearchMaxTermLen} chars")
        // a malformed or inapplicable parameter is a 400, never a
        // silent fall-through (the nprobe/phrase rule): a lexical-only
        // search has no probe width, and the chunk arm has no snippet
        else if (qparam(ex, "nprobe").isDefined)
          reply(ex, 400, "nprobe requires like")
        else if (qparam(ex, "index").isDefined ||
            qparam(ex, "radius").isDefined ||
            qparam(ex, "rerank").isDefined ||
            qparam(ex, "label").isDefined)
          reply(ex, 400, "index/radius/rerank/label require like")
        else if (qparam(ex, "span").isDefined)
          reply(ex, 400, "span requires near")
        else if (qparam(ex, "snippet").isDefined &&
            qparam(ex, "unit").exists(_ == "chunk"))
          reply(ex, 400, "snippet is not supported with unit=chunk")
        else qparam(ex, "unit").getOrElse("doc") match {
          case "doc" =>
            val ranked = graft.operators.TextQueries
              .bm25ScoredFor(spark, dir, terms)
              .orderBy(col("score").desc, col("doc_id"))
              .limit(k)
            if (qparam(ex, "snippet").contains("1")) {
              // x145's probe: the densest 32-token window per result
              // doc — a second positional-postings probe joined to
              // the k ranked rows (inner by construction: a scored
              // doc has ≥1 term hit; left for schema honesty)
              val rows = ranked
                .join(graft.operators.TextQueries
                  .bestWindowFor(spark, dir, terms),
                  Seq("doc_id"), "left")
                .orderBy(col("score").desc, col("doc_id"))
                .collect()
                .map(r => Json.obj("doc_id" -> r.getLong(0),
                  "score" -> r.getDouble(1),
                  "win_start" -> (if (r.isNullAt(2)) null else r.getLong(2)),
                  "win_hits" -> (if (r.isNullAt(3)) null else r.getLong(3))))
              replyJson(ex, 200, Json.arr(rows.toIndexedSeq))
            } else {
              val rows = ranked.collect()
                .map(r => Json.obj("doc_id" -> r.getLong(0),
                  "score" -> r.getDouble(1)))
              replyJson(ex, 200, Json.arr(rows.toIndexedSeq))
            }
          case "chunk" =>
            val rows = graft.operators.CurationQueries
              .chunkBm25For(spark, dir, terms)
              .orderBy(col("score").desc, col("doc_id"), col("chunk_id"))
              .limit(k).collect()
              .map(r => Json.obj("doc_id" -> r.getLong(0),
                "chunk_id" -> r.getLong(1), "score" -> r.getDouble(2)))
            replyJson(ex, 200, Json.arr(rows.toIndexedSeq))
          case other => reply(ex, 400, s"unknown unit: $other")
        }
      case _ => reply(ex, 404, "Not Found")
    }

  // time-travel / CDC surface over the versioned store: version
  // numbers, snapshot-as-of reads, and the change feed between two
  // versions — the lakehouse control-plane calls (Delta DESCRIBE
  // HISTORY / VERSION AS OF / table_changes) a downstream incremental
  // consumer drives through. Reads are limit-capped in-plan like
  // /query; the CDC fast path stays O(delta) end-to-end.
  // decode from the RAW query: URI.getQuery already resolves %XX, so
  // decoding it again turns an escaped literal '+' (%2B) into a space
  // and throws on an escaped '%' — split the raw string, decode once
  private def qparam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap(_.split("&")
      .collectFirst { case p if p.startsWith(name + "=") =>
        URLDecoder.decode(p.drop(name.length + 1), UTF_8) })

  private def rowLimit(ex: HttpExchange): Int =
    qparam(ex, "limit").flatMap(_.toIntOption)
      .getOrElse(100).min(10000).max(1)

  private def routeTables(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex)) match {
      case ("GET", List("tables", name, "version")) =>
        if (!store.exists(name)) reply(ex, 404, s"unknown table $name")
        else replyJson(ex, 200, Json.obj("name" -> name,
          "version" -> store.version(name)))
      case ("GET", List("tables", name, "at", v)) =>
        v.toIntOption match {
          case None => reply(ex, 400, s"bad version $v")
          case Some(ver) =>
            if (!store.exists(name)) reply(ex, 404, s"unknown table $name")
            else try {
              val rows = store.loadVersion(name, ver)
                .limit(rowLimit(ex)).toJSON.collect()
              replyJson(ex, 200, rows.mkString("[", ",", "]"))
            } catch { case e: IllegalArgumentException =>
              reply(ex, 404, e.getMessage) }
        }
      case ("GET", List("tables", name, "changes")) =>
        (qparam(ex, "from").flatMap(_.toIntOption),
          qparam(ex, "to").flatMap(_.toIntOption),
          qparam(ex, "key").map(_.split(",").toSeq.filter(_.nonEmpty))) match {
          case (Some(f), to, Some(key)) if key.nonEmpty =>
            if (!store.exists(name)) reply(ex, 404, s"unknown table $name")
            else try {
              val rows = store.changesBetween(name, f,
                  to.getOrElse(store.version(name)), key)
                .limit(rowLimit(ex)).toJSON.collect()
              replyJson(ex, 200, rows.mkString("[", ",", "]"))
            } catch { case e: IllegalArgumentException =>
              reply(ex, 400, e.getMessage) }
          case _ => reply(ex, 400,
            "changes needs from=<version> and key=<col,...> " +
              "(to=<version> defaults to current)")
        }
      // GET /tables/{name}/drift?from=&to= — the data-card diff
      // between two snapshots (QualityOps.drift over loadVersion):
      // O(columns) report rows, one scan per side
      case ("GET", List("tables", name, "drift")) =>
        (qparam(ex, "from").flatMap(_.toIntOption),
          qparam(ex, "to").flatMap(_.toIntOption)) match {
          case (Some(f), to) =>
            if (!store.exists(name)) reply(ex, 404, s"unknown table $name")
            else try {
              val rows = graft.operators.QualityOps.drift(
                store.loadVersion(name, f),
                store.loadVersion(name, to.getOrElse(store.version(name))))
                .toJSON.collect()
              replyJson(ex, 200, rows.mkString("[", ",", "]"))
            } catch { case e: IllegalArgumentException =>
              // 400 like the changes route: same version-range error class
              reply(ex, 400, e.getMessage) }
          case _ => reply(ex, 400,
            "drift needs from=<version> (to=<version> defaults to current)")
        }
      case _ => reply(ex, 404, "Not Found")
    }

  // ------------------------------------------------------------------
  // read handlers — each URL parameter becomes a pushed-down filter
  // ------------------------------------------------------------------

  private def eventoJson(r: Row): String = Json.obj(
    "Id" -> r.getAs[String]("id"), "Nombre" -> r.getAs[String]("nombre"),
    "Capacidad" -> r.getAs[Int]("capacidad"),
    "Categoria" -> r.getAs[String]("categoria"),
    "Estado" -> r.getAs[String]("estado"))

  private def inventarioJson(r: Row): String = Json.obj(
    "Id" -> r.getAs[String]("id"), "Nombre" -> r.getAs[String]("nombre"),
    "Disponible" -> r.getAs[Int]("capacidad"),
    "Categoria" -> r.getAs[String]("categoria"),
    "Estado" -> r.getAs[String]("estado"))

  private def reservaJson(id: String, evento: String, estado: String,
      email: String, cantidad: Int): String = Json.obj(
    "_id" -> id, "Evento" -> evento, "Estado" -> estado,
    "Email" -> email, "Cantidad" -> cantidad)

  private def detReservaJson(r: Row): String = Json.obj(
    "idres" -> r.getAs[String]("id"), "nombre" -> r.getAs[String]("evento"),
    "Estado" -> r.getAs[String]("estado"), "Email" -> r.getAs[String]("email"),
    "canres" -> r.getAs[Int]("cantidad"))

  private def listEventos(ex: HttpExchange): Unit =
    replyJson(ex, 200, Json.arr(store.load("eventos")
      .orderBy("id").collect().toSeq.map(eventoJson)))

  private def getEvento(ex: HttpExchange, nombre: String): Unit =
    store.load("eventos").filter(col("nombre") === nombre)
      .collect().headOption match {
      case Some(r) => replyJson(ex, 200, eventoJson(r))
      case None => reply(ex, 404, "Not Found")
    }

  private def listInventario(ex: HttpExchange): Unit =
    replyJson(ex, 200, Json.arr(store.load("inventario")
      .orderBy("id").collect().toSeq.map(inventarioJson)))

  private def getInventario(ex: HttpExchange, nombre: String): Unit =
    store.load("inventario").filter(col("nombre") === nombre)
      .collect().headOption match {
      case Some(r) => replyJson(ex, 200, inventarioJson(r))
      case None => reply(ex, 404, "Not Found")
    }

  private def getReservasCliente(ex: HttpExchange, evento: String,
      email: String): Unit =
    replyJson(ex, 200, Json.arr(store.load("reservas")
      .filter(col("evento") === evento && col("email") === email)
      .orderBy("id").collect().toSeq.map(detReservaJson)))

  private def getReservaId(ex: HttpExchange, id: String): Unit =
    if (!RestService.isHexId(id))
      reply(ex, 400, "id incorrecta, el formato es /id/(12 bytes hex)")
    else store.load("reservas").filter(col("id") === id)
      .collect().headOption match {
      case Some(r) => replyJson(ex, 200, reservaJson(r.getAs[String]("id"),
        r.getAs[String]("evento"), r.getAs[String]("estado"),
        r.getAs[String]("email"), r.getAs[Int]("cantidad")))
      case None => reply(ex, 404, "Not Found")
    }

  // ------------------------------------------------------------------
  // write handlers — MergeOps primitives behind parameter binding
  // ------------------------------------------------------------------

  private def body(ex: HttpExchange): Option[JsonNode] =
    try Option(mapper.readTree(new String(
      ex.getRequestBody.readAllBytes(), UTF_8)))
    catch { case _: Throwable => None }

  /** Case-insensitive field access — Go's encoding/json matches request
    * fields to struct names case-insensitively, so `nombre` and
    * `Nombre` both bind. */
  private def field(n: JsonNode, name: String): Option[JsonNode] = {
    val it = n.fields()
    var found: Option[JsonNode] = None
    while (it.hasNext && found.isEmpty) {
      val e = it.next()
      if (e.getKey.equalsIgnoreCase(name)) found = Some(e.getValue)
    }
    found
  }
  private def str(n: JsonNode, name: String): String =
    field(n, name).map(_.asText("")).getOrElse("")
  private def int(n: JsonNode, name: String): Int =
    field(n, name).map(_.asInt(0)).getOrElse(0)

  private def postEvento(ex: HttpExchange): Unit = body(ex) match {
    case None => reply(ex, 400, "JSON no válido")
    case Some(js) => lock.synchronized {
      import spark.implicits._
      val (id, nombre) = (idGen(), str(js, "Nombre"))
      val row = Seq((id, nombre, int(js, "Capacidad"),
        str(js, "Categoria"), "A"))
        .toDF("id", "nombre", "capacidad", "categoria", "estado")
      val target = store.load("eventos")
      // O17 insert-if-absent on the unique name (eventos/main.go:75-78:
      // duplicate insert → 400 "ya existente")
      if (target.filter(col("nombre") === nombre).limit(1).count() > 0)
        reply(ex, 400, s"Evento $nombre ya existente")
      else {
        store.replace("eventos",
          MergeOps.insertIfAbsent(target, row, Seq("nombre")))
        replyJson(ex, 200, Json.obj("Id" -> id, "Nombre" -> nombre,
          "Capacidad" -> int(js, "Capacidad"),
          "Categoria" -> str(js, "Categoria"), "Estado" -> "A"))
      }
    }
  }

  private def deleteEvento(ex: HttpExchange, nombre: String): Unit =
    lock.synchronized {
      import spark.implicits._
      val target = store.load("eventos")
      if (target.filter(col("nombre") === nombre).limit(1).count() == 0)
        reply(ex, 404, "Not Found")
      else {
        // O18 guarded update: estado→C by unique name (main.go:49)
        store.replace("eventos", MergeOps.guardedUpdate(target,
          Seq(nombre).toDF("nombre"), Seq("nombre"), lit(true),
          Map("estado" -> lit("C"))))
        reply(ex, 200, s"Evento: $nombre cancelado")
      }
    }

  private def postReserva(ex: HttpExchange): Unit = body(ex) match {
    case None => reply(ex, 400, "JSON no válido")
    case Some(js) =>
      val (evento, email, cant) =
        (str(js, "Evento"), str(js, "Email"), int(js, "Cantidad"))
      if (cant <= 0) reply(ex, 400, "Cantidad incorrecta")
      else lock.synchronized {
        import spark.implicits._
        val id = idGen()
        val inv = store.load("inventario")
        // O19 guarded decrement (reservas/main.go:152-166): nombre
        // matches AND estado='A' AND capacidad covers the request
        val guard = col("nombre") === evento && col("estado") === "A" &&
          col("capacidad") >= cant
        if (inv.filter(guard).limit(1).count() == 0)
          reply(ex, 404,
            s"evento $evento no encontrado o sin capacidad en este momento")
        else {
          store.replace("inventario", MergeOps.guardedUpdate(inv,
            Seq(evento).toDF("nombre"), Seq("nombre"),
            col("estado") === "A" && col("capacidad") >= cant,
            Map("capacidad" -> (col("capacidad") - cant),
              "idres" -> lit(id), "email" -> lit(email),
              "canres" -> lit(cant))))
          // the saga's settled end-state: the reservation row the
          // async route lands via CDC (S2/S4)
          store.append("reservas", Seq((id, evento, "A", email, cant))
            .toDF("id", "evento", "estado", "email", "cantidad"))
          replyJson(ex, 200, reservaJson(id, evento, "A", email, cant))
        }
      }
  }

  private def deleteReservaId(ex: HttpExchange, id: String): Unit =
    if (!RestService.isHexId(id))
      reply(ex, 400, "id incorrecta, el formato es /id/(12 bytes hex)")
    else lock.synchronized {
      import spark.implicits._
      val target = store.load("reservas")
      val hit = target.filter(col("id") === id && col("estado") === "A")
        .collect().headOption
      hit match {
        case None =>
          reply(ex, 404, s"reserva Id $id no encontrada o ya cancelada")
        case Some(r) =>
          // O20 CAS A→X (reservas/main.go:186-195)
          store.replace("reservas", MergeOps.guardedUpdate(target,
            Seq(id).toDF("id"), Seq("id"), col("estado") === "A",
            Map("estado" -> lit("X"))))
          reply(ex, 200, s"reserva Id: $id Cliente: " +
            s"${r.getAs[String]("email")} Evento: " +
            s"${r.getAs[String]("evento")} cancelada")
      }
    }

  // ------------------------------------------------------------------

  private def reply(ex: HttpExchange, code: Int, text: String): Unit = {
    val bytes = text.getBytes(UTF_8)
    // JDK HttpServer: length 0 means "chunked/arbitrary", -1 means empty
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
  }

  private def replyJson(ex: HttpExchange, code: Int, json: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json;charset=utf8")
    reply(ex, code, json)
  }
}

object RestService {

  /** /search input bounds: the q-terms become isin plan literals, so
    * the request surface must cap them the way /query caps limit.
    * 32 terms × 64 chars covers any human query; anything bigger is
    * a malformed or abusive request → 400. */
  val SearchMaxTerms = 32
  val SearchMaxTermLen = 64

  /** Request-handler pool size: enough that interactive reads never
    * queue behind one slow request, small enough that concurrent
    * Spark jobs can't starve the executors (local scheduling is FAIR
    * within a JVM; on a cluster these are driver-side threads). */
  val HttpPoolThreads = 4

  /** How long a terminal purge-job status stays pollable before the
    * next submit may evict it. One hour comfortably covers any sane
    * completion-polling loop while bounding the status map by the
    * hourly purge rate. */
  val PurgeStatusRetentionMs: Long = 3600L * 1000

  /** bson.ObjectId stand-in: 24 hex chars, time-prefixed + counter —
    * unique and roughly sortable like the original. */
  def objectIdGen(): () => String = {
    val counter = new AtomicLong(new java.util.Random().nextInt(1 << 24))
    () => {
      val secs = (System.currentTimeMillis() / 1000) & 0xffffffffL
      f"$secs%08x${counter.getAndIncrement() & 0xffffffffffffffffL}%016x"
    }
  }

  def isHexId(s: String): Boolean =
    s.length == 24 && s.forall(c => "0123456789abcdefABCDEF".indexOf(c) >= 0)
}

/** Minimal JSON emission for the fixed response shapes (no reflection,
  * no extra dependency; requests parse through jackson which ships with
  * Spark). */
private object Json {
  def esc(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }
  def value(v: Any): String = v match {
    case s: String => "\"" + esc(s) + "\""
    case null => "null"
    case other => other.toString
  }
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => "\"" + k + "\":" + value(v) }
      .mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
