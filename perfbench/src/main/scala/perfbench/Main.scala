package perfbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.GraftSession
import graft.catalog.EntityCatalog
import graft.serving.HttpApi
import graft.sinks.{DocumentSink, SearchIndex}
import graft.sources.Tables

/** What one run found: metrics by name and unit, correctness checks,
  * defect probes, and the operation counts. */
final class Report {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  /** Workload-specific figures printed beside BENCHMARK.json's metrics. */
  val extra = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.LinkedHashMap[String, (Boolean, String)]()
  val defects = mutable.LinkedHashMap[String, (Boolean, String)]()
  /** Entity -> (documents synced, rejected) of the set-up sync. */
  val synced = mutable.LinkedHashMap[String, (Long, Long)]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks(name) = (ok, detail)

  def fail(what: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += what.take(300)
  }

  def json: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      Json.obj(m.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    def flags(m: mutable.LinkedHashMap[String, (Boolean, String)]) =
      Json.obj(m.toSeq.map { case (k, (ok, d)) =>
        k -> Json.obj(Seq("ok" -> ok.toString, "detail" -> Json.str(d))) })
    Json.obj(Seq(
      "end_to_end" -> metrics(endToEnd), "per_layer" -> metrics(perLayer),
      "extra" -> metrics(extra), "checks" -> flags(checks),
      "defects" -> flags(defects), "attempted" -> attempted.toString,
      "synced" -> Json.obj(synced.toSeq.map { case (e, (ok, bad)) =>
        e -> s"[$ok,$bad]" }),
      "failed" -> failed.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]")))
  }
}

/** Everything a workload needs from the running process. */
final case class Ctx(spark: SparkSession, tracer: Tracer, report: Report,
                     src: String, out: String, seed: Long, seconds: Double,
                     port: Int, probes: Thread) {
  def rng(stream: Int): scala.util.Random =
    new scala.util.Random(seed * 1000003L + stream)
  def client(): Client = new Client(port)
}

/** The set-up pass every workload starts with: the reference's batch
  * sync ("time until searchable"), the flagship ticket query's build, and
  * the index the workload serves from. */
object Setup {
  val RunTs: String = graft.operators.Denormalize.RunTs
  /** Entity stores the crud_mix workload writes. */
  val WrittenStores: Seq[String] = Seq("customer", "part")

  final case class Done(synced: Map[String, (Long, Long)], syncSec: Double)

  def stringCols(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq

  def run(spark: SparkSession, tr: Tracer, src: String, out: String,
          workload: String): Done = {
    val t0 = System.nanoTime()
    val synced = tr.span("catalog.sync_all") {
      EntityCatalog.syncAll(spark, src, out, RunTs)
    }
    val syncSec = (System.nanoTime() - t0) / 1e9
    Main.mark("syncAll")
    // the flagship ticket query is built (its builder fires jobs of its
    // own) but not materialized: set-up time goes to what serving needs
    tr.span("queries.build") {
      graft.SparkEntry.queries("denorm_tickets")(spark, src)
    }
    graft.StageCache.releaseAll()
    if (workload == "search") tr.span("sinks.index_build") {
      // the build HttpApi runs on its first ranked request over a named
      // table
      val docs = Tables(spark, src, "documents")
      SearchIndex.build(docs, stringCols(docs), docs.columns.head,
        s"$out/_search_index/tables/documents")
    }
    Done(synced, syncSec)
  }
}

/** Seed defects, reproduced by name on stores the timed phase never
  * touch. A probe "passes" when the seed behaviour is fixed. */
object Probes {
  /** Stores the probes write; the timed phase never touch them. */
  val Stores: Seq[String] = Seq("supplier", "region", "nation")

  def run(report: Report, client: () => Client): Unit = {
    val probes = Seq(() => concurrentInserts(client),
      () => bulkMistypedId(client()), () => insertThenSync(client()))
    val found = new java.util.concurrent.ConcurrentHashMap[String,
      (Boolean, String)]()
    val names = Seq("concurrent_insert_collision", "bulk_mistyped_id",
      "insert_then_sync_key_type")
    Loops.concurrently(probes.size) { i =>
      val (name, fixed, detail) =
        try probes(i)()
        catch { case NonFatal(e) => (names(i), false, s"probe error: $e") }
      found.put(name, (fixed, detail))
    }
    names.foreach(n => report.defects(n) = found.get(n))
  }

  /** Single-document inserts skip the store's write lock: concurrent
    * inserts into one store collide on the next delta generation. */
  def concurrentInserts(client: () => Client): (String, Boolean, String) = {
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Call]()
    Loops.concurrently(4) { i =>
      val cl = client()
      for (k <- 0 until 2) {
        val key = 70000000L + 10 * i + k
        results.add(cl.send("POST", "/supplier",
          s"""{"s_suppkey": $key, "s_name": "Probe#$key"}"""))
      }
    }
    val calls = results.toArray(Array.empty[Call]).toSeq
    val failed = calls.filter(_.status >= 500)
    ("concurrent_insert_collision", failed.isEmpty,
      s"${failed.size} of ${calls.size} concurrent POST /supplier failed" +
        failed.headOption.map(x => ": " + x.body.take(100)).getOrElse(""))
  }

  /** A non-numeric `_bulk` `_id` on a numeric-keyed entity is
    * acknowledged, and the store then cannot serve the document. */
  def bulkMistypedId(c: Client): (String, Boolean, String) = {
    val bulk = c.send("POST", "/_bulk",
      """{"index": {"_index": "region", "_id": "probe-x"}}""" + "\n" +
        """{"r_name": "PROBE"}""" + "\n")
    val item = scala.util.Try(Json.parse(bulk.body).path("items").get(0)
      .path("index").path("status").asInt).getOrElse(-1)
    val get = c.send("GET", "/region/probe-x")
    ("bulk_mistyped_id", bulk.status >= 400 || item >= 400 ||
      get.status == 200, s"_bulk item status $item, then GET " +
      s"/region/probe-x ${get.status} ${get.body.take(100)}")
  }

  /** An insert stores the key column as a string while `/sync` stores
    * the source's integer type: the two delta generations cannot be
    * merged, and the store stops serving. */
  def insertThenSync(c: Client): (String, Boolean, String) = {
    val ins = c.send("POST", "/nation",
      """{"n_nationkey": 9100, "n_name": "PROBE"}""")
    val sync = c.send("POST", "/nation/sync", """{"id": "3"}""")
    val after = c.send("GET", "/nation/3")
    ("insert_then_sync_key_type",
      ins.status < 300 && sync.status < 300 && after.status == 200,
      s"POST /nation ${ins.status}, POST /nation/sync ${sync.status} " +
        s"${sync.body.take(100)}, GET /nation/3 ${after.status}")
  }
}

/** The process's resource use at one moment: CPU time outside the JIT
  * compiler, the compiler's CPU time (ns), and garbage-collection
  * time (ms) and count. */
final case class Usage(workNs: Long, jitNs: Long, gcMs: Long, gcs: Long) {
  def -(o: Usage): Usage =
    Usage(workNs - o.workNs, jitNs - o.jitNs, gcMs - o.gcMs, gcs - o.gcs)
}

object Usage {
  def now(): Usage = {
    import scala.jdk.CollectionConverters._
    val gcs = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    Usage(Main.workCpuNs(), Main.jitCpuNs(),
      gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }
}

object Main {
  private val started = System.nanoTime()
  /** Progress marks on stderr, in seconds since the JVM started. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $what (JIT CPU ${jitCpuNs() / 1e9}%.1f s)")

  def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** On-disk bytes under `dir`. */
  def du(dir: java.io.File): Long =
    if (dir.isFile) dir.length()
    else Option(dir.listFiles()).toSeq.flatten.map(du).sum

  /** (on-disk bytes of stores plus indexes, JSON bytes of the live
    * documents), over every store but the ones the defect probes write. */
  def storage(ctx: Ctx): (Double, Double) = {
    import ctx._
    val stores = EntityCatalog.entities.keys.toSeq
      .filterNot(Probes.Stores.contains).sorted.map(e => s"$out/$e")
    val json = stores.par.map { p =>
      DocumentSink.read(spark, p).toJSON
        .select(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length(col("value"))))
        .collect()(0).getLong(0)
    }.sum
    val disk = stores.map(p => du(new java.io.File(p))).sum +
      du(new java.io.File(s"$out/_search_index"))
    (disk.toDouble, json.toDouble)
  }

  /** The JIT compiler threads' run-time files. run.py keeps their number
    * fixed (-XX:-UseDynamicNumberOfCompilerThreads), so none of them
    * ends and takes its CPU time along. */
  private lazy val jitThreads: Seq[java.io.File] = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    Option(tasks).toSeq.flatten.filter { t =>
      val comm = scala.util.Try(new String(java.nio.file.Files.readAllBytes(
        new java.io.File(t, "comm").toPath), "UTF-8")).getOrElse("")
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }.map(new java.io.File(_, "schedstat"))
  }

  /** CPU time the JIT compiler threads have used, ns. */
  def jitCpuNs(): Long = jitThreads.map { f =>
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(f.toPath))
      .trim.split(" ")(0).toLong).getOrElse(0L)
  }.sum

  /** CPU time the process has used outside the JIT compiler, ns: the
    * program's own work and its garbage collection. Compiling hot code is
    * a one-off cost that a short run pays unevenly, so it is left out. */
  def workCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime - jitCpuNs()

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val status =
      try { run(args); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    // HttpApi.stop() leaves its request pool's threads alive, so the
    // process ends here explicitly. It halts: the result is written, and
    // Spark's shutdown hooks would spend seconds stopping a session and
    // deleting local directories that run.py deletes with the run's work
    // directory anyway.
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(status)
  }

  def run(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val workload = arg(args, "workload")
    require(Set("search", "crud_mix").contains(workload),
      s"unknown workload '$workload'")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val (src, out) = (arg(args, "src"), arg(args, "out"))
    val report = new Report
    val spark = GraftSession("perfbench")
    val tracer = new Tracer(spark, traced)
    mark("session")
    // run.py writes the inputs while the session starts; waiting for them
    // is not set-up
    val ready = java.nio.file.Paths.get(s"$src/.ready")
    val w0 = System.nanoTime()
    while (!java.nio.file.Files.exists(ready)) Thread.sleep(20)
    val waited = System.nanoTime() - w0
    val done = Setup.run(spark, tracer, src, out, workload)
    val api = new HttpApi(spark, src, out)
    val port = api.start()
    val setupSec = (System.nanoTime() - t0 - waited) / 1e9
    // the probes write only stores the timed phase and the storage count
    // skip; they run beside the warm-up and end before timing starts
    val probes = new Thread(() => Probes.run(report,
      () => new Client(port)), "perfbench-probes")
    val ctx = Ctx(spark, tracer, report, src, out, seed, seconds, port,
      probes)
    try {
      mark("setup")
      probes.start()
      done.synced.foreach { case (e, (ok, bad)) =>
        report.synced(e) = (ok, bad) }
      val docs = done.synced.values.map(_._1).sum
      report.endToEnd("setup_s") = (setupSec, "s")
      report.extra("sync_docs_per_s") = (docs / done.syncSec, "1/s")
      if (workload == "search") SearchWorkload.run(ctx)
      else CrudWorkload.run(ctx)
      mark("workload")
      val (disk, json) = storage(ctx)
      report.endToEnd("space_amp") = (disk / json, "ratio")
      report.endToEnd("peak_rss_mb") = (peakRssMb(), "MB")
      Layers.setup(ctx, json)
      if (traced) tracer.write(arg(args, "spans"))
      java.nio.file.Files.write(java.nio.file.Paths.get(arg(args, "result")),
        report.json.getBytes("UTF-8"))
      mark("result")
    } finally api.stop()
  }
}
