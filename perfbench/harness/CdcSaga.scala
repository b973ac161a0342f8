package graft.perfbench

import scala.collection.mutable

import graft.streaming.Flows
import graft.tables.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The Boletia tables the saga starts from, generated from the run's
  * seed: `events` inventario rows and `reservas` reservations. Every row
  * is a pure function of (seed, index), so the generator can name
  * existing rows without reading the store. Every event has more seats
  * than a run can sell. */
final case class Boletia(seed: Long, events: Int, reservas: Int, customers: Int = 50000) {
  val Capacity = 1000000

  def evName(i: Int): String = f"evento-$i%05d"
  def resId(j: Int): String = Hex.oid(s"r$seed-$j")
  def resEvento(j: Int): Int = ((j.toLong * 7919) % events).toInt
  def resCantidad(j: Int): Int = 1 + j % 4
  def resActive(j: Int): Boolean = j % 10 != 9

  private def evNameCol(i: org.apache.spark.sql.Column) =
    format_string("evento-%05d", i)

  def inventario(spark: SparkSession): DataFrame =
    spark.range(events).select(
      substr(md5(concat(lit(s"e$seed-"), col("id"))), lit(1), lit(24)).as("id"),
      evNameCol(col("id")).as("nombre"),
      lit(Capacity).as("capacidad"),
      element_at(array(lit("Opera"), lit("Sport"), lit("Music"), lit("Teatro")),
        (col("id") % 4 + 1).cast("int")).as("categoria"),
      lit("A").as("estado"),
      lit(null).cast("string").as("idres"),
      lit(null).cast("string").as("email"), lit(null).cast("int").as("canres"))

  def reservasDf(spark: SparkSession): DataFrame =
    spark.range(reservas).select(
      substr(md5(concat(lit(s"r$seed-"), col("id"))), lit(1), lit(24)).as("id"),
      evNameCol(col("id") * 7919 % events).as("evento"),
      when(col("id") % 10 === 9, lit("X")).otherwise(lit("A")).as("estado"),
      concat(lit("c"), col("id") % customers, lit("@mail.test")).as("email"),
      (col("id") % 4 + 1).cast("int").as("cantidad"))
}

/** A two-topic CDC wire message (the KafkaIO.readTopics shape). */
final case class Msg(topic: String, value: String)

/** cdc_saga: the reference's consumer topology (Flows.consumerFlow) fed
  * with string-quoted post-images on both topics — inventario
  * registrations, customer cancels (reservas estado X) and organizer
  * cancels (inventario estado C) — with 5% of messages delivered twice.
  * Phase 1 drains a fixed backlog in large triggers; phase 2 sends a
  * trickle open-loop at a fixed rate over the now-large tables and
  * times each message from its due time to the commit of its trigger. */
final class CdcSaga(spark: SparkSession, a: Args, out: Out) extends Workload {
  private val data = Boletia(a.seed, a.int("events"), a.int("reservas"))
  private val backlog = a.int("backlog")
  private val chunks = a.int("backfill_triggers")
  private val rate = a.double("rate")
  private val cancelPool = 40 // events only organizer cancels touch
  private val draw = new Draw(a.seed)
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  // generator ground truth
  private val registered = mutable.LinkedHashMap[String, (Int, Int)]() // id -> (event, qty)
  private val regIds = mutable.ArrayBuffer[String]()
  private val returned = mutable.LinkedHashMap[String, (Int, Int)]()
  private val cancelledEvents = mutable.LinkedHashSet[Int]()
  private var regSeq = 0

  private var root: String = _
  private var store: TableStore = _
  private var ms: MemoryStream[Msg] = _
  private var query: StreamingQuery = _
  private val tap = new ProgressTap(spark)
  private var offset = -1L // last MemoryStream offset added

  out.put("workload_config", Map("events" -> data.events,
    "reservas" -> data.reservas, "backlog" -> backlog,
    "backfill_triggers" -> chunks, "rate_per_s" -> rate,
    "redelivery" -> 0.05, "organizer_cancels" -> chunks))

  private def jq(doc: String): String =
    "\"" + doc.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def evId(i: Int) = Hex.oid(s"e${a.seed}-$i")

  private def registration(): Msg = {
    val ev = draw.uniform(data.events - cancelPool)
    val id = Hex.oid(s"g${a.seed}-$regSeq"); regSeq += 1
    val q = draw.between(1, 4)
    registered(id) = (ev, q)
    regIds += id
    Msg("boletia.inventario", jq(
      s"""{"_id": {"$$oid": "${evId(ev)}"}, "nombre": "${data.evName(ev)}", """ +
        s""""capacidad": ${data.Capacity}, "categoria": "Cat", "estado": "A", """ +
        s""""idres": {"$$oid": "$id"}, "email": "c$regSeq@mail.test", "canres": $q}"""))
  }

  /** A customer cancel of a reservation not yet returned: one registered
    * in an earlier message, or a seeded active one. */
  private def customerCancel(): Msg = {
    var pick: (String, Int, Int) = null
    while (pick == null) {
      val c =
        if (registered.nonEmpty && draw.chance(0.5)) {
          val id = regIds(draw.uniform(regIds.size))
          val (ev, q) = registered(id)
          (id, ev, q)
        } else {
          val j = draw.uniform(data.reservas)
          if (data.resActive(j)) (data.resId(j), data.resEvento(j), data.resCantidad(j)) else null
        }
      if (c != null && !returned.contains(c._1) && c._2 < data.events - cancelPool) pick = c
    }
    val (id, ev, q) = pick
    returned(id) = (ev, q)
    Msg("boletia.reservas", jq(
      s"""{"_id": {"$$oid": "$id"}, "evento": "${data.evName(ev)}", """ +
        s""""estado": "X", "email": "x@mail.test", "cantidad": $q}"""))
  }

  private def organizerCancel(): Msg = {
    val ev = data.events - 1 - cancelledEvents.size
    cancelledEvents += ev
    Msg("boletia.inventario", jq(
      s"""{"_id": {"$$oid": "${evId(ev)}"}, "nombre": "${data.evName(ev)}", """ +
        s""""capacidad": ${data.Capacity}, "categoria": "Cat", "estado": "C", """ +
        """"idres": null, "email": null, "canres": null}"""))
  }

  /** `n` messages: 80% registrations, 20% customer cancels, then 5% of
    * them again (redelivery) at seeded positions. */
  private def messages(n: Int): IndexedSeq[Msg] = {
    val base = IndexedSeq.fill(n)(if (draw.chance(0.8)) registration() else customerCancel())
    val withDup = mutable.ArrayBuffer[Msg]()
    base.foreach { m =>
      withDup += m
      if (draw.chance(0.05)) withDup.insert(draw.between(0, withDup.size), m)
    }
    withDup.toIndexedSeq
  }

  private def add(ms: Seq[Msg]): Long = { this.ms.addData(ms); offset += 1; offset }

  def setup(): Unit = {
    root = s"${a.work}/store"
    store = new TableStore(spark, root)
    store.init("inventario", data.inventario(spark))
    store.init("reservas", data.reservasDf(spark))
    ms = MemoryStream[Msg](spark, Runtime.getRuntime.availableProcessors())
    offset = -1L
    query = new Flows(spark, store, trigger = Trigger.ProcessingTime(0))
      .consumerFlow(ms.toDS().toDF())
    // warm-up: one small trigger through every branch
    add(messages(20) :+ organizerCancel())
    query.processAllAvailable()
  }

  def teardown(): Unit = query.stop()

  /** Phase 1: the backlog in `chunks` large triggers. */
  private def backfill(): Double = {
    val batches = (0 until chunks).map(_ => messages(backlog / chunks) :+ organizerCancel())
    val t0 = Clock.nowMs
    batches.foreach { b => add(b); query.processAllAvailable() }
    val secs = (Clock.nowMs - t0) / 1e3
    out.put("bulk", Map("ops" -> batches.map(_.size).sum, "seconds" -> secs))
    secs
  }

  /** Phase 2: one message per due time, each its own MemoryStream
    * offset; returns (due, added, offset) per message. */
  private def trickle(seconds: Double): Seq[Seq[Any]] = {
    val msgs = messages(math.max(1, (rate * seconds).toInt))
    val t0 = Clock.nowMs + 50
    val rows = msgs.indices.map { i =>
      val due = t0 + i * 1000.0 / rate
      Clock.sleepUntil(due)
      val added = Clock.nowMs
      val off = add(Seq(msgs(i)))
      Seq(due, added, off)
    }
    query.processAllAvailable()
    Tracer.drain(spark)
    rows
  }

  /** The measured window is `seconds` long: the backlog first, the
    * trickle for the rest of it (at least half). */
  def measure(): Unit = {
    tap.install()
    val spent = backfill()
    out.put("events", trickle(math.max(a.seconds / 2.0, a.seconds - spent)))
    tap.uninstall()
    out.put("progress", tap.progress.toArray.toSeq)
    check()
  }

  def traced(tr: Tracer): Unit = {
    tap.install()
    tr.start()
    backfill()
    out.put("events", trickle(a.seconds / 2.0))
    tr.stop()
    // store-root accounting and tracer overhead: four 50-message triggers
    // untraced, then four traced with a store scan before and after each
    def step(): Double = {
      val b = messages(50)
      val t0 = Clock.nowMs; add(b); query.processAllAvailable(); Clock.nowMs - t0
    }
    val base = (0 until 4).map(_ => step())
    tr.start()
    val writes = (0 until 4).map { _ =>
      val before = StoreScan.files(root)
      val v0 = StoreScan(root).versions
      val rows0 = registered.size + returned.size
      val ms = tr.span("streaming.trigger")(step())
      val after = StoreScan.files(root)
      val changed = registered.size + returned.size - rows0
      Map("ms" -> ms, "versions" -> (StoreScan(root).versions - v0),
        "written_bytes" -> after.collect { case (p, b) if !before.contains(p) => b }.sum,
        "changed_bytes" -> changed * StoreScan.liveBytes(root, "reservas").toDouble /
          (data.reservas + registered.size))
    }
    tr.stop()
    tap.uninstall()
    out.put("untraced_ms", base)
    out.put("writes", writes)
    out.put("load_ms", Seq("inventario", "reservas", "devoluciones").flatMap { t =>
      (0 until 5).map { _ =>
        val t0 = Clock.nowMs; store.load(t).schema; Clock.nowMs - t0 }
    })
    out.put("segments_live", StoreScan(root).segmentsLive)
    out.put("progress", tap.progress.toArray.toSeq)
    out.put("trace", tr.dump)
    check()
  }

  /** Registered and returned counts equal the generator's distinct
    * counts despite redelivery; returned seats are back in inventario;
    * organizer cancels cascaded to every active reservation. */
  private def check(): Unit = {
    query.processAllAvailable()
    val res = store.load("reservas")
    val nRes = res.count()
    out.check("registered", nRes == data.reservas + registered.size,
      s"reservas $nRes, expected ${data.reservas + registered.size}")
    val nRet = store.load("devoluciones").count()
    out.check("returned", nRet == returned.size, s"devoluciones $nRet, expected ${returned.size}")
    val gain = mutable.HashMap[Int, Int]()
    returned.values.foreach { case (ev, q) => gain(ev) = gain.getOrElse(ev, 0) + q }
    val inv = store.load("inventario").select("nombre", "capacidad", "estado").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    val wrongCap = (0 until data.events).filter { i =>
      inv.get(data.evName(i)).map(_._1) != Some(data.Capacity + gain.getOrElse(i, 0))
    }
    out.check("seats_returned", wrongCap.isEmpty,
      wrongCap.take(3).map(i => s"${data.evName(i)}: ${inv.get(data.evName(i))}").mkString("; "))
    val names = cancelledEvents.map(data.evName).toSeq
    val activeLeft = res.filter(col("evento").isin(names: _*) && col("estado") === "A").count()
    out.check("cascade", activeLeft == 0 && names.forall(n => inv.get(n).exists(_._2 == "C")),
      s"$activeLeft active reservations on cancelled events")
    out.put("counts", Map("registered" -> registered.size, "returned" -> returned.size,
      "organizer_cancels" -> cancelledEvents.size))
  }
}
