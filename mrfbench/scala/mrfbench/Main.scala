package mrfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JSON output through the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
}

/** One benchmark run in one JVM: one cold set-up (SparkSession plus a
  * small warm-up pass), then measured iterations of the workload until
  * `--seconds` of measured time have accumulated. The result (and, when
  * traced, every span) is written as JSON for run.py.
  *
  * Arguments: --workload mrf_stream|mrf_fleet|catalog --seed N
  * --seconds S --trace 0|1 --work DIR --out FILE --cpus N --launch-ms T
  * --deadline-ms T [--scale full|tiny] [--flip-gold-rate]
  * [--sf-dir DIR --warm-dir DIR] [--trace-out FILE]
  */
object Main {

  def session(cpus: Int, work: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("mrfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the same session settings graft.Bench uses for the catalog
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "3000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def main(argv: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val flags = Set("--flip-gold-rate")
    def parse(xs: List[String]): Map[String, String] = xs match {
      case f :: rest if flags(f) => parse(rest) + (f.drop(2) -> "1")
      case k :: v :: rest if k.startsWith("--") => parse(rest) + (k.drop(2) -> v)
      case Nil => Map.empty
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    val a = parse(argv.toList)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val cpus = a("cpus").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val tiny = a.get("scale").contains("tiny")
    val deadlineMs = a("deadline-ms").toLong
    val jvmStartS = (mainEntryMs - a("launch-ms").toLong) / 1e3

    Jvm.installGcSampler()
    val tracer = new Tracer(a("trace") == "1")
    val ctx = new Ctx(tracer, work, seed, a.contains("flip-gold-rate"))
    val MB = 1L << 20
    val w: Workload = workload match {
      case "mrf_stream" =>
        if (tiny) new MrfStream(ctx, 2 * MB, MB) else new MrfStream(ctx, 48 * MB, 2 * MB)
      case "mrf_fleet" =>
        if (tiny) new MrfFleet(ctx, 4, MB / 2, MB / 4) else new MrfFleet(ctx, 6, MB, MB / 4)
      case "catalog" => new Catalog(ctx, a("sf-dir"), a("warm-dir"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare()

    // set-up, as a user pays it: the first SparkSession of this JVM
    // and one warm-up pass, cold
    val t0 = System.nanoTime()
    tracer.run = "setup"
    ctx.spark = session(cpus, work)
    tracer.sc = Some(ctx.spark.sparkContext)
    tracer.span("setup")(w.warmUp())
    val setupS = Workloads.secs(t0)
    if (tracer.enabled) {
      val sl = new StageListener(tracer)
      ctx.spark.sparkContext.addSparkListener(sl)
      ctx.stages = Some(sl)
      val pl = new ProgressListener(tracer)
      ctx.spark.streams.addListener(pl)
      ctx.progress = Some(pl)
    }

    // measured iterations: a closed loop, one at a time
    val iters = scala.collection.mutable.ArrayBuffer.empty[(IterResult, Long, Seq[Long], Double)]
    var measured = 0.0
    var k = 0
    var lastWallMs = 0L
    while (k == 0 || (measured < seconds &&
        System.currentTimeMillis() + 2 * lastWallMs < deadlineMs)) {
      val w0 = System.currentTimeMillis()
      tracer.run = s"$workload-$seed-it$k"
      val load = loadavg()
      Jvm.takeYoungSamples()
      val r = w.iteration(k)
      val young = Jvm.takeYoungSamples()
      iters += ((r, Jvm.afterFullGc(), young, load))
      measured += r.e2eS
      lastWallMs = System.currentTimeMillis() - w0
      k += 1
    }

    val ok = iters.filter(_._1.failed == 0)
    // a failed iteration never shows up as a (short) timing
    val timed = if (ok.nonEmpty) ok else iters
    def med(f: ((IterResult, Long, Seq[Long], Double)) => Double) =
      Workloads.median(timed.map(f).toSeq)
    def mb(bytes: Double) = bytes / 1048576.0
    // upper quartile of the young collections' post-GC readings, a peak
    // estimate of the in-flight heap; it still reads 20-30% apart from
    // run to run, with the timing of collections against in-flight data
    def p75(xs: Seq[Long]): Option[Double] =
      if (xs.isEmpty) None else Some(mb(xs.sorted.apply(math.ceil(0.75 * xs.size).toInt - 1)))
    val e2e = iters.map(_._1.e2eS)
    val layerNames = timed.flatMap(_._1.layers.keys).distinct
    val result = Map(
      "workload" -> workload,
      "seed" -> seed,
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm_start_s" -> jvmStartS,
      "setup_cold_s" -> setupS,
      "iterations" -> iters.map { case (r, heap, young, load) =>
        Map("e2e_s" -> r.e2eS, "ingest_gb_min" -> r.ingestGbMin, "heap_peak_mb" -> p75(young),
          "heap_retained_mb" -> mb(heap), "loadavg_1m" -> load, "attempted" -> r.attempted,
          "failed" -> r.failed, "errors" -> r.errors)
      },
      "metrics" -> Map(
        "setup_s" -> (jvmStartS + setupS),
        "e2e_s" -> med(_._1.e2eS),
        "ingest_gb_min" -> (if (timed.forall(_._1.ingestGbMin.isDefined))
          Some(med(_._1.ingestGbMin.get)) else None),
        "heap_peak_mb" -> p75(timed.flatMap(_._3).toSeq).getOrElse(mb(timed.map(_._2).max))),
      // after the full collection that ends each iteration; soft
      // references make it read either ~230 or ~520 MB on a 4-core host
      "heap_retained_mb" -> mb(timed.map(_._2).max),
      "per_layer" -> layerNames.map(n =>
        n -> Workloads.median(timed.flatMap(_._1.layers.get(n)).toSeq)).toMap,
      "attempted" -> iters.map(_._1.attempted).sum,
      "failed" -> iters.map(_._1.failed).sum,
      // median/min over iterations, as graft.Bench's total_spread
      "e2e_spread" -> (Workloads.median(e2e.toSeq) / e2e.min),
      "interference_suspect" -> (Workloads.median(e2e.toSeq) / e2e.min > 1.5))
    Files.writeString(Paths.get(a("out")), Json.write(result))
    a.get("trace-out").filter(_ => tracer.enabled).foreach { p =>
      Files.writeString(Paths.get(p), Json.write(Map(
        "workload" -> workload, "seed" -> seed,
        "spans" -> tracer.spans.sortBy(_.start).map(s => Map(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
          "start_us" -> s.start, "end_us" -> s.end) ++ s.attrs))))
    }
    graft.Teardown.quietly(() => ctx.spark.stop())
  }
}
