package perfbench

import Counters._

/** Per-layer figures of the traced run that every workload shares. */
object Layers {
  /** Engine work over the timed phase, from the listener counts. */
  def spark(ctx: Ctx, before: Array[Long]): Unit =
    if (ctx.tracer.enabled) {
      org.apache.spark.perfbench.ListenerBus.drain(ctx.spark.sparkContext)
      val d = ctx.tracer.counters.snapshot().zip(before).map {
        case (a, b) => (a - b).toDouble }
      val pl = ctx.report.perLayer
      pl("spark.task_s") = (d(TaskMs) / 1000, "s")
      pl("spark.gc_s") = (d(GcMs) / 1000, "s")
      pl("spark.planning_ms") = (d(PlanningMs), "ms")
      pl("spark.shuffle_read_bytes") = (d(ShuffleRead), "bytes")
      pl("spark.shuffle_write_bytes") = (d(ShuffleWrite), "bytes")
      pl("spark.spill_bytes") = (d(Spill), "bytes")
      pl("spark.jobs") = (d(Jobs), "count")
      pl("spark.stages") = (d(Stages), "count")
      pl("spark.tasks") = (d(Tasks), "count")
    }

  /** The set-up pass's layers and the bytes it wrote. */
  def setup(ctx: Ctx, liveJsonBytes: Double): Unit =
    if (ctx.tracer.enabled) {
      val tr = ctx.tracer
      val pl = ctx.report.perLayer
      def one(name: String) = tr.named(name).head
      val sync = one("catalog.sync_all")
      pl("sources.input_rows") = (sync.count(InRows).toDouble, "count")
      pl("sources.input_bytes") = (sync.count(InBytes).toDouble, "bytes")
      pl("catalog.sync_all_s") = (sync.ms / 1000, "s")
      pl("queries.build_s") = (one("queries.build").ms / 1000, "s")
      pl("queries.build_jobs") =
        (one("queries.build").count(Jobs).toDouble, "count")
      val written = Seq("catalog.sync_all", "sinks.index_build")
        .flatMap(tr.named).map(_.count(OutBytes)).sum.toDouble
      tr.named("sinks.index_build").foreach(s =>
        ctx.report.extra("sinks.index_build_s") = (s.ms / 1000, "s"))
      pl("sinks.bytes_written") = (written, "bytes")
      pl("sinks.write_amp") = (written / liveJsonBytes, "ratio")
      val build = tr.named("serving.build").filter(_.req.startsWith("get"))
        .map(s => s.req -> s.ms).toMap
      pl("sinks.point_read_p50_ms") = (Stats.median(
        tr.named("serving.execute").filter(_.req.startsWith("get"))
          .map(s => s.ms + build.getOrElse(s.req, 0.0))), "ms")
    }
}
