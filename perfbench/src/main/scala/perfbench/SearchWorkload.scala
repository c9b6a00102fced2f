package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.EntityCatalog
import graft.serving.{EsDsl, Search}
import graft.sinks.{DocumentSink, SearchIndex}
import graft.sources.Tables

/** Read-only traffic against HttpApi over loopback HTTP: one closed-loop
  * client cycles through a seeded pool of one request per class. */
object SearchWorkload {
  /** Seconds one cycle took when the benchmark was sized. */
  val CycleSeconds = 4.0

  /** The run's requests, one per class, in cycle order. Terms are
    * Zipf-drawn over the generated vocabulary (hottest first) and the GET
    * id over the customer keys, so hot terms and low ids are likelier. */
  def pool(ctx: Ctx): Seq[Req] = {
    import ctx._
    val rng = ctx.rng(1)
    val vocab = Json.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$src/vocab.json")), "UTF-8"))
    def draw(key: String, n: Int): String = {
      val words = vocab.path(key).elements().asScala.map(_.asText).toSeq
      val z = new Zipf(words.size, 1.0)
      Iterator.continually(words(z.draw(rng))).distinct.take(n)
        .mkString(" ")
    }
    val docs = Tables(spark, src, "documents")
    val fields = Setup.stringCols(docs)
    val tableIdx = s"$out/_search_index/tables/documents"
    def post(cls: String, path: String, body: String)(
        direct: => (DataFrame, Option[DataFrame])) =
      Req(cls, cls, "POST", path, body, () => direct)
    val occ = draw("documents", 1)
    val occAll = draw("entities", 1)
    val bm25 = draw("documents", 2)
    val matchBody = s"""{"index": "documents", "query": {"match": """ +
      s"""{"text": "${draw("documents", 2)}"}}, "size": 10}"""
    val termsBody = s"""{"index": "documents", "size": 0, "query": """ +
      s"""{"term": {"lang": "${draw("languages", 1)}"}}, "aggs": """ +
      """{"by_source": {"terms": {"field": "source", "size": 5}}}}"""
    val nCustomers = Tables(spark, src, "customer").count().toInt
    val id = s"${new Zipf(nCustomers, 1.0).draw(rng)}_${Setup.RunTs}"
    Seq(
      post("occurrence", "/search",
        s"""{"search_term": "$occ", "index": "documents", "limit": 10}""") {
        (Search.multiField(docs, occ, fields, 10), None) },
      post("occurrence_all", "/search",
        s"""{"search_term": "$occAll", "index": "*", "limit": 10}""") {
        val lake = EntityCatalog.unionDocuments(spark, src, Setup.RunTs)
        (Search.acrossIndexes(lake, occAll, Setup.stringCols(lake)
          .filterNot(Set("table", "document_id")), 10), None) },
      post("bm25_documents", "/search", s"""{"search_term": "$bm25", """ +
        """"index": "documents", "rank": "bm25", "limit": 10}""") {
        (SearchIndex.ranked(spark, tableIdx, bm25, fields, 10), None) },
      post("dsl_match", "/search/advanced", matchBody) {
        EsDsl.searchParts(docs, Json.parse(matchBody), Nil, Some(tableIdx)) },
      post("dsl_terms", "/search/advanced", termsBody) {
        EsDsl.searchParts(docs, Json.parse(termsBody)) },
      Req("get", "get", "GET", s"/customer/$id", null, () =>
        (DocumentSink.read(spark, s"$out/customer")
          .filter(col("document_id") === id), None)))
  }

  def send(c: Client, r: Req): Call =
    c.send(r.method, r.path, r.body)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val reqs = pool(ctx)
    // the direct engine calls answer every request once; running them
    // before timing also warms the JIT and codegen for the timed phase
    Main.mark("pool")
    val want = Serving.answers(ctx, reqs)
    Main.mark("answers")
    reqs.foreach(r => System.err.println(s"[perfbench] request ${r.key} " +
      s"${r.method} ${r.path} ${Option(r.body).getOrElse("")} -> " +
      s"${want(r.key).hits.size} hits, ${want(r.key).buckets.size} buckets"))
    // one cycle sends every request of the pool once, always in the same
    // order, so that every run sends the same sequence and the seed picks
    // only terms and ids; an untimed cycle warms the HTTP path
    val cl = ctx.client()
    val warm = reqs.map(r =>
      Sample(r.cls, r.key, send(cl, r), 0.0, write = false))
    Main.mark("warm")
    probes.join()
    val cache = if (tracer.enabled) Some(new CacheSampler(spark)) else None
    val gens = new DeltaWatch(Setup.WrittenStores.map(e => s"$out/$e"))
    val s0 = tracer.counters.snapshot()
    val samples = mutable.ArrayBuffer[Sample]()
    val u0 = Usage.now()
    val sec = Loops.cycles(seconds, CycleSeconds) {
      reqs.foreach { r =>
        val (call, cpuMs) = Sample.cpu(send(cl, r))
        samples += Sample(r.cls, r.key, call, cpuMs, write = false)
      }
    }
    val used = Usage.now() - u0
    cache.foreach(_.close())
    gens.close()
    gens.report(ctx)
    Layers.spark(ctx, s0)
    val timed = samples.toSeq
    // the traced run times the direct calls warm, after the phases
    if (tracer.enabled) Serving.answers(ctx, reqs, spans = true)
    // every response must carry the direct call's hits, scores and
    // buckets, in order
    var mismatched = 0
    var firstBad = ""
    (warm ++ timed).foreach { s =>
      report.attempted += 1
      val ok = s.call.status == 200 &&
        scala.util.Try(Serving.parse(s.cls, s.call.body) == want(s.key))
          .getOrElse(false)
      if (!ok) {
        if (s.call.status != 200)
          report.fail(s"${s.key} HTTP ${s.call.status} ${s.call.body}")
        else mismatched += 1
        if (firstBad.isEmpty) firstBad = s"${s.key}: ${s.call.body.take(160)}"
      }
    }
    val empty = reqs.filter(r => want(r.key).hits.isEmpty &&
      want(r.key).buckets.isEmpty).map(_.key)
    report.check("search_responses", mismatched == 0 && empty.isEmpty,
      s"${warm.size + timed.size} responses compared with ${reqs.size} " +
        "direct engine calls; " + s"$mismatched differ" +
        (if (empty.nonEmpty) s"; empty answers: ${empty.mkString(",")}"
         else "") + (if (firstBad.nonEmpty) s"; first: $firstBad" else ""))
    Serving.phaseMetrics(ctx, timed, sec, used, s0, cache)
  }
}
