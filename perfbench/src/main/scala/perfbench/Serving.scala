package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame

/** One distinct request of a workload's pool: the HTTP call a client
  * sends, and the direct call into the engine's public function that
  * must answer it identically. `direct` builds the frame(s); the page
  * collect that follows is the execute step. */
final case class Req(cls: String, key: String, method: String, path: String,
                     body: String,
                     direct: () => (DataFrame, Option[DataFrame]))

/** The engine's answer to a request, in the HTTP envelope's terms. */
final case class Answer(hits: Seq[JsonNode], buckets: Seq[JsonNode])

/** A client-side record of one request: its reply, and the CPU time the
  * whole process spent while it was in flight. */
final case class Sample(cls: String, key: String, call: Call, cpuMs: Double,
                        write: Boolean)

object Sample {
  /** Run `send`; return its result and the process's CPU time meanwhile
    * in ms, the JIT compiler's left out. The timed phase has one client,
    * so that CPU time is what the request cost. */
  def cpu[A](send: => A): (A, Double) = {
    val c0 = Main.workCpuNs()
    val a = send
    (a, (Main.workCpuNs() - c0) / 1e6)
  }
}

object Serving {
  /** HttpApi's page cap: hits are collected as `limit(MaxHits + 1)`. */
  val MaxHits = 1000

  /** Run every pool request's direct engine call once, releasing the
    * staged frames after each request as the server does. With `spans`,
    * build (the public call returning a frame) and execute (the page
    * collect) are timed as separate spans. */
  def answers(ctx: Ctx, pool: Seq[Req],
              spans: Boolean = false): Map[String, Answer] = {
    def span[A](name: String, key: String)(body: => A): A =
      if (spans) ctx.tracer.span(name, key)(body) else body
    pool.map { r =>
      val (page, aggs) = span("serving.build", r.key)(r.direct())
      val ans = span("serving.execute", r.key) {
        Answer(page.limit(MaxHits + 1).toJSON.collect().take(MaxHits)
            .toSeq.map(Json.parse),
          aggs.toSeq.flatMap(_.limit(MaxHits).toJSON.collect()
            .map(Json.parse)))
      }
      graft.StageCache.releaseAll()
      r.key -> ans
    }.toMap
  }

  /** The hits (and first aggregation's buckets) an HTTP search
    * response carries; a point GET's body is its one hit. */
  def parse(cls: String, body: String): Answer = {
    val n = Json.parse(body)
    if (cls == "get") Answer(Seq(n), Nil)
    else {
      val hits = n.path("hits").path("hits")
      val aggs = n.path("aggregations")
      val buckets =
        if (aggs.isObject && aggs.size > 0)
          aggs.elements().next().path("buckets")
        else Json.mapper.createArrayNode()
      import scala.jdk.CollectionConverters._
      Answer(hits.elements().asScala.toSeq, buckets.elements().asScala.toSeq)
    }
  }

  def latencies(xs: Seq[Sample]): Seq[Double] = xs.map(_.call.ms)

  /** Documents a read response returned. */
  def hits(s: Sample): Long =
    if (s.call.status != 200) 0L
    else if (s.cls.startsWith("get")) 1L
    else scala.util.Try(parse(s.cls, s.call.body).hits.size.toLong)
      .getOrElse(0L)

  /** End-to-end figures of the timed phase, and the serving layer's
    * per-request figures of the traced run: build and execute from the
    * direct-call spans, engine work per request from the listener counts
    * over the phase (`before`), and the time a read spent outside the
    * engine's own calls (HTTP). The phase is whole cycles of one client,
    * so every run weighs the request classes alike. */
  def phaseMetrics(ctx: Ctx, timed: Seq[Sample], sec: Double, used: Usage,
                   before: Array[Long], cache: Option[CacheSampler]): Unit = {
    val e = ctx.report.endToEnd
    val x = ctx.report.extra
    // the process's CPU time per request, the JIT compiler's left out:
    // what a request costs the machine, whatever else the machine is
    // doing
    e("cpu_ms_per_op") = (used.workNs / 1e6 / math.max(1, timed.size), "ms")
    x("jit_cpu_ms") = (used.jitNs / 1e6, "ms")
    x("gc_ms") = (used.gcMs.toDouble, "ms")
    x("gc_count") = (used.gcs.toDouble, "count")
    val reads = timed.filterNot(_.write)
    val r1 = latencies(reads)
    // each read class weighs the same: the classes differ 5x in latency
    val byClass = reads.groupBy(_.cls).values.map(latencies).toSeq
    def balanced(q: Double) = Stats.geomean(byClass.map(Stats.pct(_, q)))
    e("read_p50_ms") = (balanced(0.5), "ms")
    x("read_p75_ms") = (balanced(0.75), "ms")
    e("ops_per_s") = (timed.size / sec, "1/s")
    x("read_samples") = (r1.size.toDouble, "count")
    x("read_pooled_p50_ms") = (Stats.median(r1), "ms")
    x("read_pooled_p90_ms") = (Stats.pct(r1, 0.9), "ms")
    x("timed_s") = (sec, "s")
    timed.groupBy(_.cls).toSeq.sortBy(_._1).foreach { case (k, v) =>
      x(s"$k.p50_ms") = (Stats.median(latencies(v)), "ms")
      x(s"$k.cpu_p50_ms") = (Stats.median(v.map(_.cpuMs)), "ms")
      x(s"$k.samples") = (v.size.toDouble, "count") }
    timed.foreach(s => System.err.println(
      f"[perfbench] sample ${s.cls} ${s.call.status} ${s.call.ms}%.1f ms " +
        f"cpu ${s.cpuMs}%.1f ms"))
    val tr = ctx.tracer
    if (!tr.enabled) return
    val pl = ctx.report.perLayer
    cache.foreach { s =>
      pl("stagecache.live_max") = (s.liveMax.toDouble, "count")
      pl("stagecache.cached_bytes_max") = (s.bytesMax.toDouble, "bytes")
    }
    pl("stagecache.live_after_req") =
      (graft.StageCache.liveCount.toDouble, "count")
    org.apache.spark.perfbench.ListenerBus.drain(ctx.spark.sparkContext)
    val d = tr.counters.snapshot().zip(before).map { case (a, b) =>
      (a - b).toDouble }
    import Counters._
    val n = math.max(1, timed.size).toDouble
    pl("serving.jobs_per_req") = (d(Jobs) / n, "count")
    pl("serving.tasks_per_req") = (d(Tasks) / n, "count")
    pl("serving.task_ms_per_req") = (d(TaskMs) / n, "ms")
    pl("serving.rows_per_hit") =
      (d(InRows) / math.max(1L, reads.map(hits).sum), "ratio")
    val build = tr.named("serving.build")
    val exec = tr.named("serving.execute")
    pl("serving.build_p50_ms") = (Stats.median(build.map(_.ms)), "ms")
    pl("serving.build_jobs_per_req") = (build.map(_.count(Jobs)).sum
      .toDouble / math.max(1, build.size), "count")
    pl("serving.execute_p50_ms") = (Stats.median(exec.map(_.ms)), "ms")
    pl("serving.wait_p50_ms") = (Stats.median(reads.flatMap(s =>
      directMs(ctx, s.key).map(s.call.ms - _))), "ms")
  }

  /** The direct calls' build + execute time for a request key; a key
    * outside the pool (crud_mix reads random documents) is charged its
    * class's median, and a class without direct calls (listing pages)
    * has no estimate. */
  def directMs(ctx: Ctx, key: String): Option[Double] = {
    val spans = ctx.tracer.named("serving.build") ++
      ctx.tracer.named("serving.execute")
    val byKey = spans.groupBy(_.req).map { case (k, v) => k -> v.map(_.ms).sum }
    def cls(k: String) = k.takeWhile(_ != '#').stripSuffix("_own")
    byKey.get(key).orElse {
      val same = byKey.collect { case (k, v) if cls(k) == cls(key) => v }
      if (same.isEmpty) None else Some(Stats.median(same.toSeq))
    }
  }
}
