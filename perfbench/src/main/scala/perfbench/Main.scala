package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.{TextFns, VectorFns}
import graft.operators.AnnOps

/** The benchmark's JVM side. It runs one workload on generated inputs and
  * writes raw measurements as JSON; `perfbench/run.py` turns them into
  * metrics and checks the outputs against the DuckDB oracle.
  *
  *   --workload nightly|interactive --seed N --seconds S --trace 0|1
  *   --in <input dir> --out <scratch dir> --result <json file>
  *
  * Order of a run: set-up (JVM start, session start, the IVF-PQ index build
  * for `interactive`, and one warm-up execution of every step that also
  * writes its output for the oracle), the untimed ANN recall probe
  * (`interactive`), then the timed section. With `--trace 1` the timed
  * section is split: an untraced half and a traced half (spans + Spark
  * listener), followed by the expression families applied alone.
  */
object Main {
  private val RequestsPerPass = Workloads.requestKinds.size
  /** Passes and requests a run measures at least, whatever --seconds says. */
  private val MinPasses = 2
  private val MinRequests = 40

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val (in, out) = (opts("in"), opts("out"))
    require(Set("nightly", "interactive")(workload), s"unknown workload $workload")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val rec = mutable.LinkedHashMap.empty[String, Any]
    rec("loadavg_start") = loadavg()

    // ---------------------------------------------------------- set-up
    // Spark's status store keeps every job, stage, task and SQL execution
    // of the run by default; a short history keeps the retained heap about
    // the program, not about how many requests the run served so far.
    val spark = GraftSession.builder(s"perfbench-$workload")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val index = s"$out/index"
    if (workload == "interactive")
      AnnOps.ivfpqSaveIndex(AnnOps.corpus(spark, in), index,
        graft.Tables.rowCountFromFooters(spark, in, "embeddings"))
    val ctx = Ctx(spark, in, out)
    val originNs = System.nanoTime()
    val wallOriginMs = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext, originNs)
    val listener = new SpanListener(tracer, wallOriginMs)
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }

    // ------------------------------------------------------ check pass
    // Vector ids the ANN probe and the ANN requests ask about, drawn from
    // the seed over the embeddings table's ids: about a fifth of the
    // corpus (querying every vector took 10 s on a loaded host).
    val annIds = if (workload != "interactive") IndexedSeq.empty[Long] else {
      val rnd = new scala.util.Random(seed)
      val n = graft.Tables.embeddings(spark, in).count()
      IndexedSeq.fill(256)((rnd.nextDouble() * n).toLong).distinct
    }
    val steps = if (workload == "nightly") Workloads.nightly else Seq.empty
    // The workload's own steps, or for interactive the registered twins of
    // its request kinds: run once each as the warm-up, outputs checked.
    val checks = if (workload == "interactive") Workloads.interactiveChecks else steps
    val checkDir = s"$out/check"
    val errors = mutable.ArrayBuffer.empty[String]
    def check(s: Step): Unit =
      try {
        val df = s.build(ctx)
        s.sink.foreach(k => k.write(ctx, df, s"$checkDir/${s.name}.sink"))
        if (s.sink.isEmpty || s.oracle)
          df.coalesce(1).write.parquet(s"$checkDir/${s.name}")
      } catch { case e: Throwable => errors += s"${s.name}: ${oneLine(e)}" }
    checks.foreach(check)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    rec("setup") = Map("setup_s" -> setupS, "session_s" -> sessionS)
    // ANN recall probe: the set-up index queried against the exact top-k.
    val probeStart = System.nanoTime()
    if (workload == "interactive") try {
      Workloads.annQuery(ctx, index, annIds, k = 11).write.parquet(s"$checkDir/ann_result")
      val vecs = AnnOps.corpus(spark, in)
      AnnOps.bruteTopK(vecs, vecs.filter(col("vec_id").isin(annIds: _*)), 10)
        .write.parquet(s"$checkDir/ann_exact")
    } catch { case e: Throwable => errors += s"ann_probe: ${oneLine(e)}" }
    val outputs = checks.filter(s => s.sink.isEmpty || s.oracle)
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json(outputs.filter(_.oracle)
      .map(s => s.name -> graft.SparkEntry.oracleSql(s.name)).toMap))
    rec("check") = Map("outputs" -> outputs.map(_.name),
      "sinks" -> checks.flatMap(s => s.sink.map(s.name -> _.name)).toMap,
      "errors" -> errors.toSeq, "probe_s" -> (System.nanoTime() - probeStart) / 1e9)

    // --------------------------------------------------- timed section
    // Heap in use at the end of every pass once collections have settled:
    // what the program retains across passes (caches, memos, blocks). A
    // collection clears the handles Spark's ContextCleaner watches; the
    // cleaner then releases what those handles kept registered, and the
    // next collection frees that. Collect until two readings
    // agree (three rounds measured; the second reading alone still held
    // up to 20 MB of such state in some passes).
    def settledHeapMb(): Double = {
      def collect(): Double = {
        System.gc()
        Thread.sleep(100)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      }
      var (prev, cur) = (collect(), collect())
      var rounds = 2
      while (math.abs(cur - prev) > 0.5 && rounds < 10) {
        prev = cur
        cur = collect()
        rounds += 1
      }
      cur
    }
    var attempted = 0
    var failed = 0
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val requestLog = mutable.ArrayBuffer.empty[Map[String, Any]]
    val reqs =
      if (workload == "interactive") Workloads.requests(seed, 4000, annIds, index)
      else IndexedSeq.empty

    def runStep(kind: String, pass: Int, name: String, layer: String,
        build: Ctx => DataFrame, sink: Option[Sink]): Double = {
      attempted += 1
      val t0 = System.nanoTime()
      try tracer.span(kind, layer, name, pass) {
        val df = tracer.span(kind, layer, s"$name.build", pass)(build(ctx))
        sink match {
          case Some(k) => tracer.span(kind, k.layer, k.name, pass)(k.write(ctx, df, s"$out/sinks/$name"))
          case None => tracer.span(kind, "spark", "noop", pass)(
            df.write.format("noop").mode("overwrite").save())
        }
      } catch { case e: Throwable =>
        failed += 1
        errors += s"$name: ${oneLine(e)}"
      }
      (System.nanoTime() - t0) / 1e6
    }

    /** Runs passes (batch) or request batches (interactive) until `budget`
      * seconds have passed and at least `minPasses` passes or `minReq`
      * requests have run. */
    def section(kind: String, budget: Double, minPasses: Int, minReq: Int): Unit = {
      val start = System.nanoTime()
      val first = passes.size
      var served = 0
      def more = (System.nanoTime() - start) / 1e9 < budget || passes.size - first < minPasses ||
        (workload == "interactive" && served < minReq)
      while (more) {
        val p = passes.size
        val t0 = System.nanoTime()
        val stepMs = tracer.span(kind, "bench", "pass", p) {
          if (workload == "interactive") (0 until RequestsPerPass).map { _ =>
            val r = reqs(requestLog.size % reqs.size)
            val ms = runStep(kind, p, s"req.${r.kind}", r.layer, r.build, None)
            requestLog += Map("kind" -> kind, "type" -> r.kind, "ms" -> ms)
            served += 1
            s"req.${r.kind}" -> ms
          } else steps.map(s => s.name -> runStep(kind, p, s.name, s.layer, s.build, s.sink))
        }
        val wall = (System.nanoTime() - t0) / 1e9
        passes += Map("kind" -> kind, "wall_s" -> wall, "steps" -> stepMs,
          "heap_mb" -> settledHeapMb())
      }
    }

    if (!trace) section("timed", seconds, MinPasses, MinRequests)
    else {
      section("untraced", seconds / 2, 1, MinRequests / 2)
      tracer.enabled = true
      listener.resetStoragePeak()
      section("traced", seconds / 2, 1, MinRequests / 2)
      expressionFamilies(ctx, tracer)
      tracer.enabled = false
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    }

    rec("passes") = passes.toSeq
    rec("requests") = requestLog.toSeq
    rec("attempted") = attempted
    rec("failed") = failed
    rec("errors") = errors.toSeq
    rec("cores") = spark.sparkContext.defaultParallelism
    rec("heap_max_mb") = Runtime.getRuntime.maxMemory / 1e6
    rec("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    if (trace) rec("trace") = Map(
      "spans" -> tracer.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "kind" -> s.kind,
          "layer" -> s.layer, "name" -> s.name, "start_ms" -> tracer.ms(s.startNs),
          "end_ms" -> tracer.ms(s.endNs), "counters" -> s.counters.asScala.toMap)
      }.toSeq,
      "tasks" -> listener.taskIntervals.asScala.map { case (a, b) => Seq(a, b) }.toSeq,
      "plans" -> listener.planRecords.asScala.map { case (a, b) => Seq(a, b) }.toSeq,
      "storage_peak_mb" -> listener.storagePeakBytes / 1e6)
    rec("loadavg_end") = loadavg()
    spark.stop()
    Files.writeString(Paths.get(opts("result")), Json(rec.toMap))
  }

  /** Each public expression family applied alone to this workload's input
    * column, materialized through the noop sink, one span per family. */
  private def expressionFamilies(c: Ctx, tracer: Tracer): Unit = {
    val docs = graft.Tables.documents(c.spark, c.in)
    val html = concat(lit("<html><body><div id=\"nav\">menu home</div><div id=\"content\"><p>"),
      col("text"), lit("</p></div><div class=\"footer\">copyright</div></body></html>"))
    val q = Array.fill(64)(0.125)
    val families: Seq[(String, () => DataFrame)] = Seq(
      "MainContentExpressions" -> (() => docs.select(
        TextFns.mainContainer(html).as("a"), TextFns.pruneChrome(html).as("b"))),
      "HtmlExpressions" -> (() => docs.select(
        TextFns.stripSelectors(html, Seq("#nav", ".footer")).as("a"),
        TextFns.selectMain(html, "#content").as("b"))),
      "TextExpressions" -> (() => docs.select(
        TextFns.wordNgrams(TextFns.spaceTokens(col("text")), 3).as("a"))),
      "VectorExpressions" -> (() => AnnOps.corpus(c.spark, c.in).select(
        VectorFns.cosine_sim(col("v"), typedLit(q)).as("a"))))
    families.zipWithIndex.foreach { case ((name, df), i) =>
      tracer.span("fn", s"fn.$name", name, i)(df().write.format("noop").mode("overwrite").save())
    }
  }

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case _: Throwable => "" }

  private def oneLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".linesIterator
      .nextOption().getOrElse("").take(300)
}

/** Minimal JSON writer for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case (a, b) => apply(Seq(a, b))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
