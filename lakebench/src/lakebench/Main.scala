package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result as JSON.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <file>
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      traced: Boolean, work: Path, out: Path)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
  }

  /** The session `graft.Bench` builds, with scratch dirs kept in `work`. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    def sinceStartS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    def log(msg: String): Unit = System.err.println(f"[lakebench] $sinceStartS%.2fs $msg")
    val spark = session(cores, o.work)
    // session warm-up, as graft.Bench does
    spark.range(1000000).selectExpr("bit_xor(xxhash64(id))").collect()
    val sessionS = sinceStartS
    log("session ready")
    val h = new Harness(spark, o.traced)
    val c = new Ctx(spark, h, o.seed)

    // one set-up, ending in untimed warm-up cycles that let caches fill
    // and the JIT settle
    val t0Setup = System.nanoTime()
    val w = Workloads(o.workload, c, o.work.resolve("lake").toString)
    w.setup()
    (1 to w.warmups).foreach(_ => w.cycle())
    val setupS = (System.nanoTime() - t0Setup) / 1e9
    log("set-up done")
    val setupSamples = h.samples.map { case (k, v) => k -> v.toSeq }.toMap
    h.resetSamples()
    h.listenerWaitMs = 0.0

    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    heap.foreach(_.resetPeakUsage())
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val gc0 = gcMs
    val cpu0 = cpuTicks()

    // closed loop, one client: whole cycles while the next one fits
    val t0 = System.nanoTime()
    val done0 = h.succeeded
    var cycles = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (cycles == 0 || elapsed + elapsed / cycles <= o.seconds) {
      val c0 = System.nanoTime()
      w.cycle()
      h.record("cycle", (System.nanoTime() - c0) / 1e6)
      cycles += 1
    }
    val loopS = elapsed
    val doneLoop = h.succeeded - done0
    val heapPeakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val gcLoopMs = (gcMs - gc0).toDouble
    val cpu1 = cpuTicks()
    w.probe()

    val values = mutable.LinkedHashMap.empty[String, Double]
    def put(name: String, v: Double): Unit = {
      require(Catalog.byName.get(name).exists(_.appliesTo(o.workload)),
        s"metric $name is not in the catalog for ${o.workload}")
      values(name) = v
    }
    val primary = w.primaryOps.map(op => Workloads.med(h, op))
    if (primary.forall(_.nonEmpty)) put("op_p50_ms", Stats.geomean(primary.flatten))
    put("setup_s", sessionS + setupS)
    put("ops_per_s", doneLoop / loopS)
    w.metrics(put)
    Catalog.morReads.foreach { case (op, wl) =>
      if (wl == o.workload) Workloads.med(h, s"$op.plan").foreach(put(s"mor.$op.plan_ms", _))
    }
    // ops that launch no Spark job (commits, manifest reads) have no Spark figures
    h.opSpark.foreach { case (op, xs) =>
      if (Catalog.sparkOps.contains(op -> o.workload)) {
        def m(f: OpSpark => Double) = Stats.median(xs.map(f).toSeq)
        put(s"spark.$op.jobs", m(_.jobs.toDouble))
        put(s"spark.$op.tasks", m(_.tasks.toDouble))
        put(s"spark.$op.task_cpu_ms", m(_.taskCpuMs))
        put(s"spark.$op.driver_gap_ms", m(_.driverGapMs))
        put(s"spark.$op.plan_ms", m(_.sqlPlanMs))
      }
    }
    c.setupMs.foreach { case (k, v) =>
      if (Catalog.byName.contains(k)) put(k, Stats.median(v.toSeq))
    }
    put("sources.rows_generated", c.rowsGenerated.toDouble)
    put("jvm.heap_peak_mb", heapPeakMb)
    put("jvm.gc_ms", gcLoopMs)
    put("host.cpu_steal_pct", stealPct(cpu0, cpu1))
    put("trace.spans", h.spans.size.toDouble)
    put("trace.listener_wait_ms", h.listenerWaitMs)
    // a metric the workload measures must have been measured: every
    // end-to-end one, and with tracing every per-layer one
    val missing = (Catalog.endToEnd ++ (if (o.traced) Catalog.perLayer else Nil))
      .filter(m => m.appliesTo(o.workload) && !values.contains(m.name)).map(_.name)

    val fingerprint = Seq(
      "nproc" -> cores.toString,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "workload" -> o.workload,
      "seconds" -> o.seconds.toString,
      "warmups" -> w.warmups.toString) ++
      w.sizes.map { case (k, v) => k -> v.toString }
    val out = Json.obj(Seq(
      "correct" -> Json.bool(h.failures.isEmpty),
      "attempted" -> h.attempted.toString,
      "failed" -> h.failures.size.toString,
      "failed_ops_ratio" -> Json.num(h.failures.size.toDouble / math.max(1, h.attempted)),
      "failures" -> Json.arr(h.failures.toSeq.map { case (op, msg) =>
        Json.obj(Seq("op" -> Json.str(op), "message" -> Json.str(msg))) }),
      "traced" -> Json.bool(o.traced),
      "seed" -> o.seed.toString,
      "cycles" -> cycles.toString,
      "loop_s" -> Json.num(loopS),
      "session_s" -> Json.num(sessionS),
      "setup_only_s" -> Json.num(setupS),
      "missing_metrics" -> Json.arr(missing.map(Json.str)),
      "setup_steps_ms" -> Json.obj(c.setupMs.toSeq.map { case (k, v) =>
        k -> Json.arr(v.toSeq.map(Json.num)) }),
      "fingerprint" -> Json.obj(fingerprint.map { case (k, v) => k -> Json.str(v) }),
      "metrics" -> Json.obj(Catalog.all.map { d =>
        d.name -> Json.obj(Seq(
          "value" -> values.get(d.name).map(Json.num).getOrElse("null"),
          "unit" -> Json.str(d.unit),
          "applies" -> Json.bool(d.appliesTo(o.workload))) ++
          (if (d.moves.isEmpty) Nil
           else Seq("moves" -> Json.str(d.moves), "on" -> Json.str(d.on))))
      }),
      "latencies" -> Json.obj(h.samples.toSeq.map { case (k, xs) =>
        k -> latency(xs.toSeq) }),
      "samples_ms" -> Json.obj(w.primaryOps.map(op =>
        op -> Json.arr(h.samples.getOrElse(op, Nil).toSeq.map(Json.num)))),
      "setup_latencies" -> Json.obj(setupSamples.toSeq.sortBy(_._1).map { case (k, xs) =>
        k -> latency(xs) }),
      "self_time_ms" -> Json.obj(h.selfTimeMs.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }),
      "spans" -> Json.arr(h.spans.toSeq.map(sp => Json.obj(Seq(
        "id" -> sp.id.toString, "parent" -> sp.parent.toString, "name" -> Json.str(sp.name),
        "op" -> Json.str(sp.opId), "start_us" -> sp.startUs.toString,
        "end_us" -> sp.endUs.toString))))))
    Files.writeString(o.out, out + "\n")
    spark.stop()
    if (missing.nonEmpty) {
      System.err.println(s"[lakebench] no value for ${missing.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The host's cumulative CPU ticks from /proc/stat (user ... steal);
    * empty where the file does not exist.
    */
  def cpuTicks(): Seq[Long] = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) Nil
    else Files.readAllLines(f).asScala.headOption.toSeq
      .flatMap(_.trim.split("\\s+").drop(1).take(8).map(_.toLong))
  }

  /** Share of CPU time the hypervisor gave to other guests between two
    * readings (the 8th field of the cpu line), in percent.
    */
  def stealPct(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) 0.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      if (d.sum <= 0) 0.0 else 100.0 * d(7) / d.sum
    }

  /** Sample count, median and the highest percentile the sample supports. */
  private def latency(xs: Seq[Double]): String = {
    val tail = Stats.supportedPercentile(xs.size).toSeq.flatMap(p =>
      Seq("tail_pct" -> Json.num(p), "tail_ms" -> Json.num(Stats.percentile(xs, p))))
    Json.obj(Seq("n" -> xs.size.toString, "p50_ms" -> Json.num(Stats.median(xs))) ++ tail)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
