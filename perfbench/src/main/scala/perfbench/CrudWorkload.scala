package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.functions._

import graft.catalog.EntityCatalog
import graft.sinks.DocumentSink
import graft.sources.Tables
import graft.streaming.IncrementalSync

/** Writes beside reads on the synced entity stores, through HttpApi.
  *
  * One closed-loop client alternates writes and reads in a fixed cycle.
  * Two stores take writes. `customer` takes single inserts and `_bulk`
  * batches. `part` takes `_update`, `/part/sync` and deletes of synced
  * documents. The client owns its keys, so every response has one right
  * answer. Inserts write the key column as a string and `/sync`
  * writes it as the source's integer type; the two kinds of delta
  * cannot share a store (see the `insert_then_sync_key_type` probe). */
object CrudWorkload {
  val RunTs: String = Setup.RunTs
  /** Seconds one cycle took when the benchmark was sized. */
  val CycleSeconds = 11.0

  /** The state a client's last acknowledged write left a document in:
    * present with these field values, or deleted. */
  final case class Want(store: String, fields: Map[String, String],
                        present: Boolean)

  /** A closed-loop client; `owner` picks its keys. */
  final class Owner(ctx: Ctx, val owner: Int, nParts: Int,
                    nCustomers: Int) {
    private val rng = ctx.rng(300 + owner)
    val want = mutable.LinkedHashMap[String, Want]()
    /** The document the last acknowledged write wrote first. */
    private var lastWritten = ""
    private var nextKey = 60000000L + owner * 1000000L
    private val updKeys = (0 until nParts / 2).filter(_ % 6 == owner)
    private val updZipf = new Zipf(updKeys.size, 1.0)
    private val delKeys = Iterator.from(nParts / 2).filter(_ % 6 == owner)
      .takeWhile(_ < nParts)
    private val custZipf = new Zipf(nCustomers, 1.0)
    private val client = ctx.client()

    private def money(): String = f"${rng.nextInt(1000000) / 100.0}%.2f"

    private def insert(): (String, Call, Seq[(String, Want)]) = {
      val k = nextKey; nextKey += 1
      val (name, bal) = (s"Bench#$k", money())
      val call = client.send("POST", "/customer",
        s"""{"c_custkey": $k, "c_name": "$name", "c_acctbal": $bal}""")
      ("insert", call, Seq(k.toString -> Want("customer",
        Map("customer_c_name" -> name, "customer_c_acctbal" -> bal), true)))
    }

    private def bulk(): (String, Call, Seq[(String, Want)]) = {
      val docs = (0 until 3).map { _ =>
        val k = nextKey; nextKey += 1
        (k, s"Bulk#$k", money())
      }
      val body = docs.map { case (k, n, b) =>
        s"""{"index": {"_index": "customer", "_id": "$k"}}""" + "\n" +
          s"""{"c_name": "$n", "c_acctbal": $b}""" + "\n"
      }.mkString
      val call = client.send("POST", "/_bulk", body)
      ("bulk", call, docs.map { case (k, n, b) => k.toString -> Want(
        "customer", Map("customer_c_name" -> n, "customer_c_acctbal" -> b),
        true) })
    }

    private def update(): (String, Call, Seq[(String, Want)]) = {
      val id = s"${updKeys(updZipf.draw(rng))}_$RunTs"
      val price = money()
      val call = client.send("POST", s"/part/_update/$id",
        s"""{"doc": {"part_p_retailprice": $price}}""")
      val prev = want.get(id).map(_.fields).getOrElse(Map.empty)
      ("update", call, Seq(id -> Want("part",
        prev + ("part_p_retailprice" -> price), true)))
    }

    private def sync(): (String, Call, Seq[(String, Want)]) = {
      val k = updKeys(updZipf.draw(rng))
      ("sync", client.send("POST", "/part/sync", s"""{"id": "$k"}"""),
        Seq(k.toString -> Want("part", Map("part_p_partkey" -> k.toString),
          true)))
    }

    private def deleteSynced(): (String, Call, Seq[(String, Want)]) = {
      val id = s"${delKeys.next()}_$RunTs"
      ("delete", client.send("DELETE", s"/part/$id"),
        Seq(id -> Want("part", Map.empty, false)))
    }

    /** The cycle's writes, one of each kind, alternating stores. */
    private val writes: Seq[() => (String, Call, Seq[(String, Want)])] =
      Seq(() => insert(), () => update(), () => bulk(), () => sync(),
        () => deleteSynced())

    /** Read `i` of the cycle, one with one right answer: an untouched
      * synced customer, the document the write before it wrote (its last
      * written state, perhaps deleted), a listing page of the customer
      * store. */
    private def readCall(i: Int): (String, Call, Option[Want]) =
      i % 3 match {
        case 1 =>
          val id = lastWritten
          val w = want(id)
          ("get_own", client.send("GET", s"/${w.store}/$id"), Some(w))
        case 2 =>
          val after = s"${rng.nextInt(1000)}"
          ("list", client.send("GET", s"/customer?limit=10&after=$after"),
            None)
        case 0 =>
          val id = s"${custZipf.draw(rng)}_$RunTs"
          ("get", client.send("GET", s"/customer/$id"),
            Some(Want("customer", Map.empty, true)))
      }

    /** Does a read's response agree with what this client last wrote? */
    private def readOk(call: Call, w: Option[Want]): Boolean =
      w match {
        case Some(Want(_, _, false)) => call.status == 404
        case Some(Want(_, fields, true)) => call.status == 200 &&
          matches(Json.parse(call.body), fields)
        case None => call.status == 200 // a listing page
      }

    /** Write `i` of the cycle. */
    def write(i: Int, samples: mutable.Buffer[Sample], report: Report): Unit = {
      val ((kind, call, effects), cpuMs) = Sample.cpu(writes(i)())
      val ok = call.status < 300 && (kind != "bulk" ||
        !Json.parse(call.body).path("errors").asBoolean(true))
      if (ok) {
        effects.foreach { case (id, w) => want(id) = w }
        lastWritten = effects.head._1
      } else report.fail(s"$kind HTTP ${call.status} ${call.body}")
      samples += Sample(kind, kind, call, cpuMs, write = true)
    }

    /** Read `i` of the cycle. */
    def read(i: Int, samples: mutable.Buffer[Sample], report: Report): Unit = {
      val ((kind, call, expect), cpuMs) = Sample.cpu(readCall(i))
      if (!readOk(call, expect))
        report.fail(s"$kind HTTP ${call.status} ${call.body}")
      samples += Sample(kind, kind, call, cpuMs, write = false)
    }

    /** The whole cycle: every write kind once, each followed by a read,
      * and a last read, so that each kind of read runs twice. */
    def cycle(samples: mutable.Buffer[Sample], report: Report): Unit = {
      writes.indices.foreach { i =>
        write(i, samples, report)
        read(i, samples, report)
      }
      read(writes.size, samples, report)
    }
  }

  /** Every listed field of `w` reads back as written. */
  def matches(doc: JsonNode, fields: Map[String, String]): Boolean =
    fields.forall { case (k, v) =>
      val n = doc.get(k)
      n != null && (if (n.isNumber) n.asDouble == v.toDouble
                    else n.asText == v)
    }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val nParts = Tables(spark, src, "part").count().toInt
    val nCustomers = Tables(spark, src, "customer").count().toInt
    val gens = new DeltaWatch(Setup.WrittenStores.map(e => s"$out/$e"))
    // direct engine reads of a few synced documents, which the traced run
    // times after the timed phase: the same public read path
    // GET /{entity}/{id} serves from, split into build and execute
    val rng = ctx.rng(2)
    val refs = (0 until 3).map { i =>
      val id = s"${rng.nextInt(nCustomers)}_$RunTs"
      Req("get", s"get#$i", "GET", s"/customer/$id", null, () =>
        (DocumentSink.read(spark, s"$out/customer")
          .filter(col("document_id") === id), None))
    }
    // an untimed cycle on keys of its own warms every write and read path
    val warm = new Owner(ctx, 5, nParts, nCustomers)
    val warmSamples = mutable.ArrayBuffer[Sample]()
    warm.cycle(warmSamples, report)
    Main.mark("warm")
    probes.join()
    val cache = if (tracer.enabled) Some(new CacheSampler(spark)) else None
    val s0 = tracer.counters.snapshot()
    val samples = mutable.ArrayBuffer[Sample]()
    val owner = new Owner(ctx, 1, nParts, nCustomers)
    val u0 = Usage.now()
    val sec = Loops.cycles(seconds, CycleSeconds)(owner.cycle(samples, report))
    val used = Usage.now() - u0
    cache.foreach(_.close())
    gens.close()
    val timed = samples.toSeq
    report.attempted += timed.size + warmSamples.size
    Layers.spark(ctx, s0)
    Main.mark("timed")
    // every acknowledged write reads back with its body
    val wants = Seq(warm, owner).map(_.want)
      .foldLeft(Map.empty[String, Want])(_ ++ _)
    val wrong = Setup.WrittenStores.flatMap { store =>
      val ids = wants.filter(_._2.store == store).keys.toSeq
      val got = DocumentSink.read(spark, s"$out/$store")
        .filter(col("document_id").isin(ids: _*)).toJSON.collect()
        .map(Json.parse).map(n => n.path("document_id").asText -> n).toMap
      ids.filterNot { id =>
        val w = wants(id)
        if (!w.present) !got.contains(id)
        else got.get(id).exists(matches(_, w.fields))
      }.map(id => s"$store/$id")
    }
    report.check("crud_read_back", wrong.isEmpty,
      s"${wants.size} documents written, ${wrong.size} read back wrong" +
        (if (wrong.nonEmpty) ": " + wrong.take(5).mkString(", ") else ""))
    // the traced run times the direct reads warm, after the timed phase
    if (tracer.enabled) Serving.answers(ctx, refs, spans = true)
    Serving.phaseMetrics(ctx, timed, sec, used, s0, cache)
    writeMetrics(ctx, timed, gens)
    gens.report(ctx)
    if (tracer.enabled) replay(ctx, nParts)
  }

  def writeMetrics(ctx: Ctx, all: Seq[Sample], gens: DeltaWatch): Unit = {
    val x = ctx.report.extra
    val w = all.filter(_.write)
    val ms = w.map(_.call.ms)
    x("write_p50_ms") = (Stats.median(ms), "ms")
    x("write_p90_ms") = (Stats.pct(ms, 0.9), "ms")
    x("write_samples") = (ms.size.toDouble, "count")
    x("error_rate") = (ctx.report.failed.toDouble /
      math.max(1L, ctx.report.attempted), "ratio")
    // a write whose interval holds a compaction pays for it: its excess
    // over the median write of its kind
    val byKind = w.groupBy(_.cls).map { case (k, v) =>
      k -> Stats.median(v.map(_.call.ms)) }
    val stalled = w.filter(s => gens.compactions.exists(t =>
      t >= s.call.startNs && t <= s.call.startNs + (s.call.ms * 1e6).toLong))
    x("sinks.compaction_ms") = (Stats.median(stalled.map(s =>
      s.call.ms - byKind(s.cls))), "ms")
  }

  /** Traced only: time the write path's public functions directly on
    * the part store, after the timed phase. */
  def replay(ctx: Ctx, nParts: Int): Unit = {
    import ctx._
    val path = s"$out/part"
    val keys = (0 until 2).map(i => nParts / 2 + 6 * i + 5)
    keys.foreach { k =>
      val id = s"${k}_$RunTs"
      val row = DocumentSink.read(spark, path)
        .filter(col("document_id") === id)
        .withColumn("part_p_retailprice", lit(1.5))
      tracer.span("sinks.upsert", id)(DocumentSink.upsert(row, path))
      val spec = EntityCatalog.entities("part")
      val pipeline = EntityCatalog.pipeline(Tables(spark, src, "part"), spec,
        RunTs)
      tracer.span("streaming.resync", k.toString)(
        IncrementalSync.resyncOne(pipeline, "part_p_partkey", k.toString,
          path))
    }
    val x = report.extra
    x("sinks.upsert_p50_ms") =
      (Stats.median(tracer.named("sinks.upsert").map(_.ms)), "ms")
    x("streaming.resync_p50_ms") =
      (Stats.median(tracer.named("streaming.resync").map(_.ms)), "ms")
  }
}

/** Watches the written stores' delta generations: the deepest read
  * fan-in seen, and when a compaction folded them into the base. */
final class DeltaWatch(stores: Seq[String]) extends AutoCloseable {
  @volatile private var running = true
  @volatile var maxGens = 0
  private val times = new ConcurrentLinkedQueue[java.lang.Long]()
  def compactions: Seq[Long] = times.asScala.map(_.longValue).toSeq
  private val last = mutable.Map[String, Int]()
  private def gens(store: String): Int =
    Option(new java.io.File(s"$store/data_delta").listFiles()).toSeq.flatten
      .count(_.getName.startsWith("delta-"))
  private val thread = new Thread(() => {
    while (running) {
      stores.foreach { s =>
        val g = gens(s)
        maxGens = math.max(maxGens, g)
        if (g < last.getOrElse(s, 0)) times.add(System.nanoTime())
        last(s) = g
      }
      Thread.sleep(20)
    }
  }, "perfbench-delta-watch")
  thread.setDaemon(true)
  thread.start()
  def close(): Unit = { running = false; thread.join() }

  def report(ctx: Ctx): Unit = if (ctx.tracer.enabled) {
    val pl = ctx.report.perLayer
    pl("sinks.delta_gens_max") = (maxGens.toDouble, "count")
    pl("sinks.compactions") = (compactions.size.toDouble, "count")
  }
}
