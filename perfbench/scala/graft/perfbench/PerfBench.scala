package graft.perfbench

import java.io.File
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.model.ColumnProfile

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs, writes
  * a plan (JSON) and launches `graft.perfbench.PerfBench <plan.json>`; this
  * object sets up, runs about the plan's seconds of the workload's
  * operations, checks every operation's output outside the timed region, and
  * writes the raw result (metrics, attempted, failed) as JSON for `run.py`.
  */
object PerfBench {
  val mapper = new ObjectMapper()

  final class Plan(val n: JsonNode) {
    def s(k: String): String = n.path(k).asText()
    def i(k: String): Int = n.path(k).asInt()
    def b(k: String): Boolean = n.path(k).asBoolean()
    def strs(k: String): Seq[String] = n.path(k).elements().asScala.map(_.asText()).toSeq
  }

  /** Metrics gathered by a workload: name -> (value, unit). */
  final class Out {
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    val notes = ArrayBuffer.empty[String]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def fail(msg: String): Unit = { failed += 1; if (notes.size < 20) notes += msg }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def nowS: Double = System.nanoTime() / 1e9

  /** A progress line in the JVM log, seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    println(f"[perfbench $up%7.2fs] $msg")
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Operations (decks, passes) a run measures: `seconds / opSeconds`
    * rounded up, at least 2. A count fixed by the arguments, not by the
    * clock, keeps a run's sample count independent of the host's speed.
    */
  def opsFor(seconds: Double, opSeconds: Double): Int = math.max(2, math.ceil(seconds / opSeconds).toInt)

  /** Run `op` `n` times back to back. `op` returns an untimed follow-up (its
    * output check), run after the operation's clock stops. Returns each
    * operation's wall seconds.
    */
  def loop(n: Int)(op: Int => (() => Unit)): Seq[Double] =
    (0 until n).map { i =>
      val (after, dt) = time(op(i))
      log(f"op ${i + 1} $dt%.3fs")
      after()
      dt
    }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val plan = new Plan(mapper.readTree(new File(args(0))))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val cpus = plan.i("cpus")
    val work = plan.s("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = new Ledger
    val trace = new Trace(plan.b("trace"), spark.sparkContext, ledger)
    if (trace.on) spark.sparkContext.addSparkListener(ledger)
    val sessionS = System.currentTimeMillis() / 1e3 - jvmStart

    val out = new Out
    val ctx = new Ctx(spark, plan, trace, out, sessionS)
    var ok = false
    try {
      plan.s("workload") match {
        case "profile_service"   => new ProfileService(ctx).run()
        case "curation_pipeline" => new CurationPipeline(ctx).run()
        case w                   => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out.put("peak_rss_mb", peakRssMb, "MB")
      if (trace.on) {
        trace.selfSeconds.foreach { case (layer, s) => out.put(s"self.${layer}_s", s, "s") }
        trace.write(s"$work/trace.json")
      }
      ok = true
    } catch {
      case e: Throwable => e.printStackTrace()
    } finally {
      val json = mapper.createObjectNode()
      json.put("attempted", out.attempted)
      json.put("failed", out.failed)
      val m = json.putObject("metrics")
      out.metrics.foreach { case (k, (v, u)) => m.putObject(k).put("value", v).put("unit", u) }
      val ns = json.putArray("notes")
      out.notes.foreach(n => ns.add(n))
      if (ok) mapper.writeValue(new File(plan.s("out")), json)
      spark.stop()
      // the HTTP server's dispatcher is a non-daemon thread
      sys.exit(if (ok) 0 else 1)
    }
  }
}

/** What every workload gets: the session, its plan, the tracer and the sink. */
final class Ctx(val spark: SparkSession, val plan: PerfBench.Plan, val trace: Trace,
    val out: PerfBench.Out, sessionS: Double) {
  import PerfBench._
  val seconds: Double = plan.n.path("seconds").asDouble()
  val rng = new SplittableRandom(plan.n.path("seed").asLong())
  val sc = spark.sparkContext
  /** Self-test switch: damage one checked output, which the run must report. */
  val corrupt: Boolean = plan.b("corrupt")

  /** Set-up time: JVM start to a ready session, plus the workload's set-up
    * (preflight, an untimed warm-up at small size, server bind) in `step`.
    */
  def setup(step: => Unit): Unit = {
    log("setup")
    out.put("setup_s", sessionS + time(step)._2, "s")
    log("setup done")
  }

  def preflight(dirs: Seq[String]): Unit = {
    val drift = dirs.distinct.flatMap(d => Tables.preflight(spark, d))
    require(drift.isEmpty, drift.mkString("; "))
  }

  /** Drop every persisted block between operations. */
  def dropCaches(): Unit = {
    SparkEntry.clearCaches()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One op of the traced run: spark.* counters of the op and its
    * driver-only seconds (wall minus the union of job intervals).
    */
  final class OpLedger {
    val rows = ArrayBuffer.empty[(Counters, Double)]
    def apply[T](body: => T): T =
      if (!trace.on) body
      else {
        val c0 = trace.ledger.snapshot(sc)
        val w0 = System.currentTimeMillis()
        val r = body
        val c1 = trace.ledger.snapshot(sc)
        val w1 = System.currentTimeMillis()
        rows += ((c1 - c0, (w1 - w0 - trace.ledger.jobCoverMs(w0, w1)) / 1e3))
        r
      }
    def put(prefix: String): Unit = if (rows.nonEmpty) {
      def m(f: Counters => Long) = median(rows.map(r => f(r._1).toDouble).toSeq)
      out.put(s"$prefix.jobs", m(_.jobs), "count")
      out.put(s"$prefix.stages", m(_.stages), "count")
      out.put(s"$prefix.tasks", m(_.tasks), "count")
      out.put(s"$prefix.driver_only_s", median(rows.map(_._2).toSeq), "s")
      out.put(s"$prefix.executor_cpu_s", m(_.cpuNs) / 1e9, "s")
      out.put(s"$prefix.gc_s", m(_.gcMs) / 1e3, "s")
      out.put(s"$prefix.input_bytes", m(_.inputBytes), "bytes")
      out.put(s"$prefix.shuffle_write_bytes", m(_.shuffleWriteBytes), "bytes")
      out.put(s"$prefix.shuffle_read_records", m(_.shuffleReadRecords), "count")
      out.put(s"$prefix.spill_bytes", m(_.spillBytes), "bytes")
    }
  }

  /** Median seconds of the spans named `name`, as `metric`. */
  def spanMedian(name: String, metric: String): Unit = {
    val xs = trace.named(name).map(s => (s.endNs - s.startNs) / 1e9)
    if (xs.nonEmpty) out.put(metric, median(xs), "s")
  }

  /** A collected result in a canonical, order-free form for equality checks. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case null                       => "∅"
    case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
    case x                          => x.toString
  }.mkString("|")).sorted
}

// --- profile_service ----------------------------------------------------------

/** Closed loop of `clients` connections against an in-process
  * `graft.serve.ProfileServer`, over seeded decks of profile_small,
  * profile_large and upload requests (see `requests`).
  */
final class ProfileService(ctx: Ctx) {
  import PerfBench._
  import ctx._

  val small: Seq[String] = plan.strs("small")
  val large: Seq[String] = plan.strs("large")
  val warm: Seq[String] = plan.strs("warm")
  val clients: Int = plan.i("clients")
  val uploadBytes: Int = plan.i("upload_bytes")
  val classes = Seq("profile_small", "profile_large", "upload")

  /** A request: class, GET path or upload body, and its expected answer. */
  final case class Req(cls: String, path: String, body: Array[Byte], format: String,
      rows: Long, malformed: Long)
  final case class Reply(req: Req, status: Int, body: String, seconds: Double)

  /** A seeded CSV or JSONL body of ~`bytes` bytes; JSONL bodies carry a seeded
    * number of malformed lines. Every body is distinct (the id prefix).
    */
  def uploadBody(id: Int, bytes: Int, jsonl: Boolean): Req = {
    val words = Array("spark", "window", "merge", "table", "column", "vector", "stream", "value",
      "data", "small", "join", "filter", "big", "group", "hash", "customer")
    val sts = Array("active", "inactive", "pending")
    val sb = new java.lang.StringBuilder(bytes + 256)
    if (!jsonl) sb.append("order_id,email,amount,status,created_at,note\n")
    val rowsAbout = bytes / 200 // a JSONL row is 150-190 bytes
    val bad = if (jsonl) 3 + rng.nextInt(math.min(37, rowsAbout / 20)) else 0
    val badAt = scala.collection.mutable.Set.empty[Int]
    while (badAt.size < bad) badAt += 1 + rng.nextInt(rowsAbout - 1)
    var r = 0
    var good = 0L
    while (sb.length < bytes) {
      val oid = id.toLong * 1000000L + r
      if (badAt(r)) sb.append(s"""{"order_id": $oid, "email": "broken\n""")
      else {
        val email = s"user${rng.nextInt(1000000)}@example.com"
        val amount = f"${rng.nextInt(100000) / 100.0}%.2f"
        val st = sts(rng.nextInt(3))
        val day = java.time.LocalDate.of(2024, 1, 1).plusDays(rng.nextInt(365).toLong)
        val note = (0 until 6).map(_ => words(rng.nextInt(words.length))).mkString(" ")
        if (jsonl)
          sb.append(s"""{"order_id": $oid, "email": "$email", "amount": $amount, """ +
            s""""status": "$st", "created_at": "$day", "note": "$note"}""" + "\n")
        else sb.append(s"$oid,$email,$amount,$st,$day,$note\n")
        good += 1
      }
      r += 1
    }
    require(badAt.forall(_ < r), "every malformed line lands inside the body")
    Req("upload", "", sb.toString.getBytes(StandardCharsets.UTF_8),
      if (jsonl) "jsonl" else "csv", good, bad.toLong)
  }

  /** `decks` decks of requests. A deck holds every small table once plus
    * one seeded extra, every large table once, and 3 uploads (JSONL and CSV
    * alternating), in seeded order: with the 4 small and 2 large tables,
    * 50% profile_small, 20% profile_large, 30% upload.
    */
  private var u = 0

  def requests(decks: Int): IndexedSeq[Req] =
    (0 until decks).flatMap { _ =>
      val d = (small :+ small(rng.nextInt(small.size))).map(p => Req("profile_small", p, null, "", 0, 0)) ++
        large.map(p => Req("profile_large", p, null, "", 0, 0)) ++
        Seq.fill(3) { u += 1; uploadBody(u, uploadBytes, jsonl = u % 2 == 1) }
      val a = d.toArray
      for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }.toIndexedSeq

  def send(port: Int, r: Req): Reply = {
    val t0 = System.nanoTime()
    val url =
      if (r.body == null) s"http://127.0.0.1:$port/profile?path=" +
        java.net.URLEncoder.encode(r.path, "UTF-8")
      else s"http://127.0.0.1:$port/upload?format=${r.format}"
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    c.setReadTimeout(120000)
    if (r.body != null) {
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(r.body.length)
      val os = c.getOutputStream
      try os.write(r.body) finally os.close()
    }
    val status = c.getResponseCode
    val in = if (status < 400) c.getInputStream else c.getErrorStream
    val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    Reply(r, status, body, (System.nanoTime() - t0) / 1e9)
  }

  /** `nClients` closed-loop clients over all of `reqs`: each sends its next
    * request when its previous reply arrives. Returns the replies and the
    * wall seconds from the first send to the last reply.
    */
  def closedLoop(port: Int, reqs: IndexedSeq[Req], nClients: Int): (Seq[Reply], Double) = {
    val next = new AtomicInteger(0)
    val replies = new java.util.concurrent.ConcurrentLinkedQueue[Reply]()
    val start = nowS
    val threads = (0 until nClients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          replies.add(send(port, reqs(i)))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (replies.asScala.toSeq, nowS - start)
  }

  /** The JSON tree a /profile response must equal, built from a direct
    * engine call: the same fields ProfileServer renders.
    */
  def expected(ps: Seq[ColumnProfile]): JsonNode = {
    val arr = mapper.createArrayNode()
    ps.foreach { p =>
      arr.addObject()
        .put("column_name", p.originalName).put("suggested_name", p.suggestedName)
        .put("data_type", p.dataType.value).put("is_primary_key", p.isPrimaryKey)
        .put("is_business_key", p.isBusinessKey).put("pii_level", p.piiLevel.value)
        .put("total_rows", p.totalRows).put("null_count", p.nullCount)
        .put("unique_count", p.uniqueCount).put("null_ratio", p.nullRatio)
        .put("unique_ratio", p.uniqueRatio).put("confidence_score", p.confidenceScore)
        .put("business_meaning", p.businessMeaning)
    }
    mapper.readTree(mapper.writeValueAsString(arr))
  }

  val engine = new graft.engine.ProfilerEngine()

  /** Reference profile per requested path, from a direct engine call. The
    * base tables are fixed, so the first run of a build computes them and
    * stores them at the plan's `refs` path; later runs of the build reuse it.
    */
  def references(): Map[String, JsonNode] = {
    val f = new File(plan.s("refs"))
    val paths = (small ++ large).distinct
    val stored = if (f.exists) Some(mapper.readTree(f)) else None
    if (stored.exists(n => paths.forall(n.has))) paths.map(p => p -> stored.get.get(p)).toMap
    else {
      val refs = paths.map(p =>
        p -> expected(engine.analyzeDataFrame(graft.Main.readAny(spark, p)).columnProfiles)).toMap
      val n = mapper.createObjectNode()
      refs.foreach { case (p, t) => n.set[JsonNode](p, t) }
      val tmp = new File(f.getPath + ".tmp")
      mapper.writeValue(tmp, n)
      tmp.renameTo(f)
      refs
    }
  }

  def check(replies: Seq[Reply], ref: Map[String, JsonNode]): Unit = replies.foreach { r =>
    out.attempted += 1
    if (r.status != 200) out.fail(s"${r.req.cls} ${r.req.path}: HTTP ${r.status} ${r.body.take(200)}")
    else if (r.req.cls == "upload") {
      val n = mapper.readTree(r.body)
      if (n.path("quarantined").asLong(-1) != r.req.malformed || n.path("rows").asLong(-1) != r.req.rows)
        out.fail(s"upload: quarantined ${n.path("quarantined")} rows ${n.path("rows")}, " +
          s"expected ${r.req.malformed} / ${r.req.rows}")
    } else if (mapper.readTree(r.body) != ref(r.req.path))
      out.fail(s"${r.req.cls} ${r.req.path}: profile differs from the reference")
  }

  def run(): Unit = {
    var server: com.sun.net.httpserver.HttpServer = null
    val uploadDir = plan.s("work") + "/uploads"
    setup {
      preflight(plan.strs("dirs"))
      server = graft.serve.ProfileServer.start(spark, 0, uploadDir = uploadDir)
      val port = server.getAddress.getPort
      val w = warm.map(p => Req("profile_small", p, null, "", 0, 0)) ++
        Seq(uploadBody(0, 64 << 10, jsonl = true), uploadBody(0, 64 << 10, jsonl = false))
      w.foreach(r => require(send(port, r).status == 200, s"warm-up request failed: ${r.path}"))
    }
    val port = server.getAddress.getPort
    // correctness references and request bodies: generated before timing
    val ref = references()
    val decks = opsFor(seconds, 8.0) // 2 decks (20 requests, ~20 s on 4 vCPUs) at 15 s
    val reqs = requests(decks)
    log("references done")

    try {
      val (replies0, wall) = closedLoop(port, reqs, clients)
      log(replies0.map(r => f"${r.req.cls}%s:${r.seconds}%.2f").mkString(" "))
      val replies = if (!corrupt) replies0 else replies0.updated(0, replies0.head.copy(
        body = replies0.head.body.replaceFirst("(\"(null_count|quarantined)\":)", "$11")))
      check(replies, ref)
      val lat = (c: String) => replies.filter(_.req.cls == c).map(_.seconds * 1e3)
      out.put("op_p50_ms", median(replies.map(_.seconds * 1e3)), "ms")
      out.put("throughput_per_s", replies.size / wall, "1/s")
      if (trace.on) {
        classes.foreach { c =>
          val xs = lat(c)
          if (xs.nonEmpty) out.put(s"serve.$c.p50_ms", median(xs), "ms")
        }
        traced(port, ref, decks)
      }
      out.put("serve.non_2xx", replies.count(_.status != 200).toDouble, "count")
    } finally server.stop(0)
  }

  /** The traced extras: one client (no queueing on the single dispatcher
    * thread), each request its own ledger row; then direct calls of the
    * profile path per class.
    */
  def traced(port: Int, ref: Map[String, JsonNode], decks: Int): Unit = {
    val reqs = requests(decks)
    val perClass = classes.map(c => c -> new OpLedger).toMap
    val all = new OpLedger
    val c1 = ArrayBuffer.empty[Reply]
    var i = 0
    while (i < reqs.size) {
      val r = reqs(i)
      trace.op = i
      c1 += perClass(r.cls)(all(trace(s"serve.${r.cls}")(send(port, r))))
      i += 1
    }
    check(c1.toSeq, ref)
    all.put("spark")
    classes.foreach { c =>
      val xs = c1.filter(_.req.cls == c).map(_.seconds * 1e3).toSeq
      if (xs.nonEmpty) out.put(s"serve.$c.c1_p50_ms", median(xs), "ms")
      val l = perClass(c)
      if (l.rows.nonEmpty) {
        out.put(s"serve.$c.driver_only_s", median(l.rows.map(_._2).toSeq), "s")
        out.put(s"serve.$c.jobs", median(l.rows.map(_._1.jobs.toDouble).toSeq), "count")
      }
    }
    out.put("io.quarantined_rows", c1.filter(r => r.req.cls == "upload" && r.status == 200)
      .map(r => mapper.readTree(r.body).path("quarantined").asDouble()).sum, "count")

    // the profile path by direct calls, one input per class
    val up = reqs.find(_.cls == "upload").get
    val upFile = new File(plan.s("work"), s"direct_upload.${up.format}")
    java.nio.file.Files.write(upFile.toPath, up.body)
    val noRelease = () => ()
    val inputs = Seq(
      "profile_small" -> (() => (graft.Main.readAny(spark, small.head), noRelease)),
      "profile_large" -> (() => (graft.Main.readAny(spark, large.head), noRelease)),
      "upload" -> (() => trace("io.upload_parse") {
        val (df, _, release) = graft.serve.UploadParse(spark, upFile.getPath, up.format).get
        (df, release)
      }))
    for (round <- 0 until 3; (c, frame) <- inputs) {
      trace.op = 1000 + round
      trace(s"engine.analyze.$c") {
        val (df, release) = frame()
        val stats = trace(s"stats.statspass.$c")(graft.stats.StatsPass.compute(df))
        val ps = trace(s"pattern.cascade.$c")(stats.map(graft.pattern.PatternRules.profileColumn))
        trace(s"engine.render.$c")(graft.engine.ProfilerEngine.profilesToDF(spark, ps).collect())
        release()
      }
      trace("io.read")(graft.Main.readAny(spark, small.head).collect())
    }
    classes.foreach { c =>
      spanMedian(s"engine.analyze.$c", s"engine.analyze_s.$c")
      spanMedian(s"stats.statspass.$c", s"stats.statspass_s.$c")
      out.put(s"stats.statspass_jobs.$c",
        median(trace.named(s"stats.statspass.$c").map(_.counters.jobs.toDouble)), "count")
      Seq("pattern.cascade" -> "pattern.cascade_ms", "engine.render" -> "engine.render_ms").foreach {
        case (span, metric) =>
          out.put(s"$metric.$c", median(trace.named(s"$span.$c").map(s => (s.endNs - s.startNs) / 1e6)), "ms")
      }
    }
    spanMedian("io.upload_parse", "io.upload_parse_s")
    spanMedian("io.read", "io.read_s")
  }
}

// --- curation_pipeline --------------------------------------------------------

/** One operation = one full curation pass over the seeded K-tile corpus:
  * load → profile → near-dup clusters → distinct shingles → decontaminate →
  * split → pack → parquet write. Every stage is materialized once; caches
  * are dropped between passes.
  */
final class CurationPipeline(ctx: Ctx) {
  import PerfBench._
  import ctx._

  val engine = new graft.engine.ProfilerEngine()

  /** One pass; returns the pass's decontaminated set, train split and packs
    * (all materialized) for the untimed check.
    */
  def pass(dir: String, outDir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = trace("io.load")(Tables.load(spark, dir, "documents"))
    trace("engine.profile_docs")(engine.analyzeDataFrame(docs))
    val clusters = trace("dedup.clusters")(graft.dedup.DedupClusters.dedupClusters(docs).localCheckpoint())
    val shingles = trace("dedup.shingles")(graft.dedup.DedupOps.shingleDF(docs).distinct().localCheckpoint())
    val bench = graft.sampling.Sampling.sampleByHash(docs, "doc_id", 0.05, salt = "bench").select("doc_id")
    val dec = trace("curation.decontaminate")(graft.curation.Curation
      .decontaminatedDocuments(docs, clusters, bench, distinctShingles = Some(shingles)).localCheckpoint())
    val split = trace("sampling.split")(graft.sampling.Sampling
      .splitAssign(dec.join(docs.select("doc_id", "text"), "doc_id"), "doc_id", 0.8, 0.1).localCheckpoint())
    val packed = trace("text.pack")(graft.text.Packing
      .packSequences(split.where(col("split") === "train")).toDF().localCheckpoint())
    trace("io.write") {
      split.select("doc_id", "split", "n_tokens", "text").write.mode("overwrite").parquet(s"$outDir/split")
      packed.write.mode("overwrite").parquet(s"$outDir/packed")
    }
    (dec, split, packed)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L) else f.length()

  def run(): Unit = {
    val base = plan.s("base")
    val corpus = plan.s("corpus")
    val nDocs = plan.n.path("n_docs").asLong()
    val stride = plan.n.path("stride").asLong()
    val outDir = plan.s("work") + "/pipeline_out"
    setup {
      preflight(Seq(base, plan.s("warm")))
      pass(plan.s("warm"), outDir + "_warm")
      dropCaches()
    }
    // the reference: the declared query over the base corpus (tile 0)
    val ref = canon(SparkEntry.queries("decontaminated_documents")(spark, base).collect().toSeq)
    dropCaches()
    log("reference done")

    var kept = 0L
    val ops = new OpLedger
    val lat = loop(opsFor(seconds, 7.5)) { i => // 2 passes (~16 s on 4 vCPUs) at 15 s
      trace.op = i
      val (dec, split, packed) = ops(trace("pipeline.pass")(pass(corpus, outDir)))
      () => {
        out.attempted += 1
        kept = dec.count()
        val tile0 = canon(dec.where(col("doc_id") < stride).collect().toSeq).drop(if (corrupt && i == 0) 1 else 0)
        val train = split.where(col("split") === "train").count()
        val packedRows = packed.count()
        if (tile0 != ref) out.fail(s"tile-0 decontaminated set differs from decontaminated_documents " +
          s"(${tile0.size} vs ${ref.size} rows)")
        else if (packedRows != train) out.fail(s"packed $packedRows docs of $train train docs")
        dropCaches()
      }
    }
    out.put("op_p50_ms", median(lat) * 1e3, "ms")
    out.put("throughput_per_s", nDocs * lat.size / lat.sum, "1/s")
    if (trace.on) {
      ops.put("spark")
      Seq("engine.profile_docs", "dedup.clusters", "dedup.shingles", "curation.decontaminate",
        "sampling.split", "text.pack", "io.write").foreach(s => spanMedian(s, s"${s}_s"))
      out.put("curation.kept_ratio", kept.toDouble / nDocs, "ratio")
      out.put("io.write_bytes", dirBytes(new File(outDir)).toDouble, "bytes")
      new ReportQueries(ctx).traced()
    }
  }
}

// --- report queries (traced run of curation_pipeline) ----------------------

/** The declared report queries, producers first, one measured pass after
  * `SparkEntry.clearCaches()`, each result fully collected: per-query
  * seconds and jobs, the memo caches' footprint, and the pass's outputs plus
  * oracle SQL for the DuckDB compare `run.py` makes.
  */
final class ReportQueries(ctx: Ctx) {
  import PerfBench._
  import ctx._

  val queries: Seq[String] = plan.strs("queries")
  val layer: Map[String, String] = plan.n.path("layers").fields().asScala
    .map(e => e.getKey -> e.getValue.asText()).toMap

  def pass(dir: String): Seq[(String, Array[Row], StructType)] = {
    SparkEntry.clearCaches()
    queries.map { q =>
      trace(s"${layer(q)}.$q") {
        val df = SparkEntry.queries(q)(spark, dir)
        (q, df.collect(), df.schema)
      }
    }
  }

  def traced(): Unit = {
    val dir = plan.s("report_dir")
    preflight(Seq(dir))
    trace.op = -1
    log("report warm-up")
    pass(plan.s("warm"))
    trace.op = 1000000
    log("report pass")
    val first = pass(dir)
    log("report pass done")
    out.attempted += 1
    queries.foreach { q =>
      val ss = trace.named(s"${layer(q)}.$q")
      out.put(s"${layer(q)}.$q.s", median(ss.map(s => (s.endNs - s.startNs) / 1e9)), "s")
      out.put(s"${layer(q)}.$q.jobs", median(ss.map(_.counters.jobs.toDouble)), "count")
    }
    out.put("entry.cached_bytes", sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble, "bytes")
    // the oracle SQL of the trained-model queries inlines this session's models
    val oracleDir = plan.s("work") + "/oracle"
    new File(oracleDir).mkdirs()
    val sql = mapper.createObjectNode()
    SparkEntry.oracleSqlFor(Some(dir)).filter(e => queries.contains(e._1)).foreach { case (q, s) => sql.put(q, s) }
    mapper.writeValue(new File(s"$oracleDir/oracle_sql.json"), sql)
    SparkEntry.clearCaches()
    out.put("entry.persisted_rdds_after_clear", sc.getPersistentRDDs.size.toDouble, "count")
    first.zipWithIndex.foreach { case ((q, rows, schema), i) =>
      spark.createDataFrame(rows.toSeq.drop(if (corrupt && i == 0) 1 else 0).asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$oracleDir/$q")
    }
  }
}
