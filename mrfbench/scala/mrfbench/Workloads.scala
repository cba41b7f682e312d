package mrfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.MrfPipeline
import graft.sources.{Gunzip, JsonSplitter, MrfFileSplitter, MrfOptions, SerializableHadoopConf}

/** What one measured iteration produced. `e2eS` and `ingestGbMin` are
  * taken with the clock the user sees; `layers` holds per-layer values
  * (traced runs only).
  */
final case class IterResult(
    e2eS: Double,
    ingestGbMin: Option[Double],
    attempted: Int,
    failed: Int,
    errors: Seq[String],
    layers: Map[String, Double])

/** Everything a workload needs from the harness. */
final class Ctx(
    val tracer: Tracer,
    val work: Path,
    val seed: Long,
    val flipGoldRate: Boolean) {
  var spark: SparkSession = _
  var stages: Option[StageListener] = None
  var progress: Option[ProgressListener] = None
  def traced: Boolean = tracer.enabled
}

trait Workload {
  /** Make this run's input templates (before set-up; never timed). */
  def prepare(): Unit
  /** One small end-to-end pass with checks, part of set-up. */
  def warmUp(): Unit
  /** One measured iteration `k` on fresh input paths. */
  def iteration(k: Int): IterResult
}

/** Failures and timings of one iteration's operations. */
final class Ops {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  /** Run one checked operation; an exception or a failed check counts
    * as a failure and yields None.
    */
  def apply[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  /** Count `n` operations that could not run because an earlier one failed. */
  def skipped(what: String, n: Int): Unit = {
    attempted += n; failed += n; errors += s"$what: skipped after an earlier failure"
  }
}

object Workloads {

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mrfOptions(path: String, extra: (String, String)*): MrfOptions =
    MrfOptions(new CaseInsensitiveStringMap((Map("path" -> path) ++ extra).asJava))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  /** The canonical text of one `shoppablePrices` row, as [[MrfGen.goldRow]]. */
  def goldText(r: Row): String = {
    val tin = r.getStruct(11)
    MrfGen.goldRow(
      r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4),
      r.getDouble(5), r.getString(6),
      Option(r.getSeq[String](7)).map(_.toSeq), r.getString(8),
      if (r.isNullAt(9)) None else Some(r.getLong(9)),
      r.getSeq[Long](10).toSeq, tin.getString(0), tin.getString(1))
  }

  /** Exact multiset comparison of collected gold rows with the
    * generator's expectation. `flip` corrupts one expected rate, to prove
    * the check rejects a wrong answer.
    */
  def checkGold(rows: Array[Row], expected: Seq[String], flip: Boolean): Unit = {
    val exp = if (!flip) expected else {
      val f = expected.head.split("\\|", -1)
      f(5) = (f(5).toDouble + 0.01).toString
      f.mkString("|") +: expected.tail
    }
    val got = rows.map(goldText).sorted.toSeq
    val want = exp.sorted
    if (got != want) {
      val missing = want.diff(got).take(2)
      val extra = got.diff(want).take(2)
      throw new IllegalStateException(
        s"gold mismatch: ${got.size} rows vs ${want.size} expected; " +
          s"missing ${missing.mkString(" ; ")}; unexpected ${extra.mkString(" ; ")}")
    }
  }

  /** Split-layer readings on a separate copy of the inputs, so the
    * measured iteration's own caches (split cache, decompressed
    * siblings) stay cold: Gunzip materialization, the uncached
    * per-file split, and the bare single-thread splitter kernel.
    */
  def splitLayers(ctx: Ctx, inputs: Seq[Path], dir: Path, opts: MrfOptions): Map[String, Double] = {
    Files.createDirectories(dir)
    val copies = inputs.map(p => Files.copy(p, dir.resolve(p.getFileName)))
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    var gunzipS = 0.0
    var gunzipBytes = 0L
    val plain = copies.map { c =>
      val t0 = System.nanoTime()
      val out = ctx.tracer.span("Gunzip.decompressIfNeeded") {
        Gunzip.decompressIfNeeded(new org.apache.hadoop.fs.Path(c.toUri), conf)
      }
      gunzipS += secs(t0)
      if (out.getName != c.getFileName.toString) gunzipBytes += Files.size(dir.resolve(out.getName))
      dir.resolve(out.getName)
    }
    var planS = 0.0
    var specs = 0L
    copies.foreach { c =>
      val t0 = System.nanoTime()
      specs += ctx.tracer.span("MrfFileSplitter.splitFileGuarded") {
        MrfFileSplitter.splitFileGuarded(c.toString, opts, new SerializableHadoopConf(conf)).size
      }
      planS += secs(t0)
    }
    var busy = 0.0
    var chunks = 0L
    var elements = 0L
    plain.foreach { p =>
      val in = new java.io.BufferedInputStream(Files.newInputStream(p), opts.bufferSize)
      val t0 = System.nanoTime()
      try ctx.tracer.span("JsonSplitter.run") {
        new JsonSplitter(in, opts.splitterOptions).run {
          case JsonSplitter.ArrayChunk(_, _, _, n) => chunks += 1; elements += n
          case _: JsonSplitter.HeaderChunk => chunks += 1
        }
      } finally in.close()
      busy += secs(t0)
    }
    val bytes = plain.map(Files.size(_)).sum
    deleteTree(dir)
    Map(
      "Gunzip.s" -> gunzipS, "Gunzip.bytes_out" -> gunzipBytes.toDouble,
      "MrfFileSplitter.plan_s" -> planS, "MrfFileSplitter.specs" -> specs.toDouble,
      "JsonSplitter.busy_s" -> busy, "JsonSplitter.gb_min" -> bytes / 1e9 / (busy / 60),
      "JsonSplitter.chunks" -> chunks.toDouble, "JsonSplitter.elements" -> elements.toDouble)
  }

  /** Stage metrics of one iteration grouped by the harness span they
    * ran under: the MRF scan stages inside the measured `iterationSpan`,
    * the stages under `silverSpan`, and the bronze sink's stages under
    * the ingest span.
    */
  def stageLayers(ctx: Ctx, iterationSpan: String, silverSpan: String): Map[String, Double] = {
    val listener = ctx.stages.get
    listener.drain(ctx.spark.sparkContext)
    val stages = listener.snapshot()
    listener.clear()
    val byId = ctx.tracer.spans.filter(_.run == ctx.tracer.run).map(s => s.id -> s).toMap
    def under(span: Long, name: String): Boolean =
      Iterator.iterate(byId.get(span))(_.flatMap(s => byId.get(s.parent)))
        .takeWhile(_.isDefined).exists(_.get.name == name)
    val scan = stages.filter(s => s.scan && under(s.span, iterationSpan))
    val skew = scan.filter(_.durations.size >= 2).map { s =>
      s.durations.max.toDouble / math.max(1.0, median(s.durations.map(_.toDouble).toSeq))
    }
    val silver = stages.filter(s => under(s.span, silverSpan))
    val bronze = stages.filter(s => under(s.span, "MrfMicroBatchStream.ingest"))
    Map(
      "MrfPartitionReader.tasks" -> scan.map(_.tasks).sum.toDouble,
      "MrfPartitionReader.task_s" -> scan.map(_.runMs).sum / 1e3,
      "MrfPartitionReader.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "MrfPartitionReader.gc_s" -> scan.map(_.gcMs).sum / 1e3,
      "MrfPipeline.silver.task_s" -> silver.map(_.runMs).sum / 1e3,
      "MrfPipeline.silver.shuffle_bytes" -> silver.map(_.shuffleWrite).sum.toDouble,
      "MrfPipeline.silver.spill_bytes" -> silver.map(_.spill).sum.toDouble,
      "MrfPipeline.silver.gc_s" -> silver.map(_.gcMs).sum / 1e3,
      "bronze.bytes_written" -> bronze.map(_.outBytes).sum.toDouble)
  }

  /** Stream `input` (a file or a directory) with
    * `readStream.format("payer-mrf")` and AvailableNow into a parquet
    * bronze table with a checkpoint, both under `dir`.
    */
  def streamToBronze(ctx: Ctx, input: String, dir: Path): Unit =
    ctx.tracer.span("MrfMicroBatchStream.ingest") {
      ctx.progress.foreach(_.parent = ctx.tracer.current)
      val q = ctx.spark.readStream.format("payer-mrf").load(input)
        .writeStream.format("parquet").outputMode("append")
        .option("path", dir.resolve("bronze").toString)
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(170000)) { q.stop(); sys.error("stream did not terminate") }
      q.exception.foreach(e => throw e)
      ctx.progress.foreach(_.awaitCount(q.recentProgress.length))
    }

  /** Stream and sink readings of the last [[streamToBronze]] under `dir`,
    * from its `StreamingQueryProgress` events (traced runs only).
    */
  def streamLayers(ctx: Ctx, dir: Path): Map[String, Double] = {
    val progress = ctx.progress.get.take()
    def dur(k: String) =
      progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    def startOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
    val start = ctx.tracer.spans
      .filter(s => s.run == ctx.tracer.run && s.name == "MrfMicroBatchStream.ingest").last.start
    Map(
      "MrfMicroBatchStream.batches" ->
        progress.filter(_.numInputRows > 0).map(_.batchId).distinct.size.toDouble,
      "MrfMicroBatchStream.rows" -> progress.map(_.numInputRows).sum.toDouble,
      "MrfMicroBatchStream.first_batch_s" -> progress.find(_.numInputRows > 0).map(p =>
        (startOf(p) + p.durationMs.get("triggerExecution").longValue * 1000 - start) / 1e6)
        .getOrElse(0.0),
      // offsets are known once the AvailableNow split has finished: the
      // wait before the first trigger, plus Spark's latestOffset calls
      "MrfMicroBatchStream.latest_offset_s" ->
        (progress.headOption.map(p => (startOf(p) - start) / 1e6).getOrElse(0.0) +
          dur("latestOffset")),
      "MrfMicroBatchStream.query_planning_s" -> dur("queryPlanning"),
      "MrfMicroBatchStream.add_batch_s" -> dur("addBatch"),
      "MrfMicroBatchStream.wal_commit_s" -> dur("walCommit"),
      "MrfMicroBatchStream.commit_offsets_s" -> dur("commitOffsets"),
      "bronze.files" ->
        dir.resolve("bronze").toFile.list().count(_.endsWith(".parquet")).toDouble)
  }

  def spanSeconds(ctx: Ctx, name: String): Seq[Double] =
    ctx.tracer.spans.filter(s => s.run == ctx.tracer.run && s.name == name)
      .map(s => (s.end - s.start) / 1e6)

  val SilverTables = Seq(
    "header", "providers_x_payer", "codes", "rates", "prices", "par_providers",
    "rate_provider_groups", "bundled_codes")

  def silverFrames(s: MrfPipeline.Silver): Seq[(String, DataFrame)] =
    SilverTables.zip(Seq(s.header, s.providersXPayer, s.codes, s.rates, s.prices,
      s.parProviders, s.rateProviderGroups, s.bundledCodes))

  /** Seeded documents plus the probes and gold rows they imply. */
  final case class Inputs(
      files: Seq[Path], jsonBytes: Long, distinctItems: Int,
      probes: Seq[MrfGen.Probe], expected: MrfGen.Expected)

  /** Write `names` into `dir`, each file with its own shape; probe codes
    * are shared so probes see rows from every file.
    */
  def generate(dir: Path, names: Seq[String], shapes: Seq[MrfGen.Shape], bytesEach: Long,
      seed: Long): Inputs = {
    Files.createDirectories(dir)
    val codes = MrfGen.probeCodes(seed, 2)
    val byTin = mutable.Map.empty[(String, String, Boolean), mutable.ArrayBuffer[String]]
    val written = names.zipWithIndex.map { case (n, i) =>
      val fileSeed = seed * 1000003L + i
      MrfGen.write(dir.resolve(n), bytesEach, fileSeed, shapes(i % shapes.size), codes.toSet, byTin)
    }
    val exp = new MrfGen.Expected
    val probes = MrfGen.chooseProbes(codes, byTin, exp)
    require(probes.nonEmpty, "generator produced no probe with expected rows")
    Inputs(names.map(dir.resolve), written.map(_.jsonBytes).sum,
      written.map(_.distinctItems).sum, probes, exp)
  }

  /** Copy a template set to fresh paths: every iteration reads files no
    * cache has seen (the split cache keys on path, length and mtime).
    */
  def freshCopy(in: Inputs, dir: Path): Seq[Path] = {
    Files.createDirectories(dir)
    in.files.map(f => Files.copy(f, dir.resolve(f.getFileName)))
  }
}

import Workloads._

/** The paper's workload: one single-object MRF file streamed with
  * `readStream.format("payer-mrf")` (AvailableNow) into a parquet bronze
  * table with a checkpoint, all 8 silver tables written, and gold read
  * back from the written silver and exact-checked.
  */
final class MrfStream(ctx: Ctx, bytes: Long, warmBytes: Long) extends Workload {
  private var main: Inputs = _
  private var warm: Inputs = _

  def prepare(): Unit = {
    val name = Seq("in-network-rates.json")
    val shape = Seq(MrfGen.Shape.mixed)
    main = generate(ctx.work.resolve("template"), name, shape, bytes, ctx.seed)
    warm = generate(ctx.work.resolve("warm-template"), name, shape, warmBytes, ctx.seed + 7)
  }

  def warmUp(): Unit = {
    val r = pass(warm.copy(probes = warm.probes.take(1)), ctx.work.resolve("warm"),
      flip = false, traced = false)
    if (r.failed > 0) throw new IllegalStateException("warm-up failed: " + r.errors.mkString("; "))
  }

  def iteration(k: Int): IterResult =
    pass(main, ctx.work.resolve(s"it$k"), ctx.flipGoldRate, ctx.traced)

  private def pass(in: Inputs, dir: Path, flip: Boolean, traced: Boolean): IterResult = {
    val spark = ctx.spark
    val t = ctx.tracer
    val file = freshCopy(in, dir.resolve("in")).head
    val bronzeDir = dir.resolve("bronze").toString
    val silverDir = dir.resolve("silver")
    val ops = new Ops
    val gc0 = Jvm.gcMillis
    val t0 = System.nanoTime()
    var ingestS = 0.0
    var goldRows = 0L
    t.span("mrf_stream.iteration") {
      val ingested = ops("ingest") {
        streamToBronze(ctx, file.toString, dir)
        ingestS = secs(t0)
      }
      val written = ingested.flatMap { _ =>
        t.span("MrfPipeline.silver") {
          val s = MrfPipeline.silver(spark.read.parquet(bronzeDir))
          val ok = silverFrames(s).map { case (n, df) =>
            ops(s"silver.$n")(t.span(s"MrfPipeline.silver.$n") {
              df.write.parquet(silverDir.resolve(n).toString)
            }).isDefined
          }
          if (ok.forall(identity)) Some(()) else None
        }
      }
      if (written.isEmpty) ops.skipped("gold", 1 + in.probes.size)
      else t.span("MrfPipeline.gold") {
        def table(n: String) = spark.read.parquet(silverDir.resolve(n).toString)
        ops("silver.codes rows") {
          val n = table("codes").count()
          require(n == in.distinctItems, s"codes has $n rows, generator wrote ${in.distinctItems} distinct items")
        }
        val s = MrfPipeline.Silver(table("header"), table("providers_x_payer"), table("codes"),
          table("rates"), table("prices"), table("par_providers"), table("rate_provider_groups"),
          table("bundled_codes"))
        in.probes.zipWithIndex.foreach { case (p, i) =>
          ops(s"gold ${p.code}@${p.tin}")(t.span("MrfPipeline.gold.probe") {
            val rows = MrfPipeline.shoppablePrices(s, p.code, p.tin).collect()
            goldRows += rows.length
            checkGold(rows, in.expected.rows(p).toSeq, flip && i == 0)
          })
        }
      }
    }
    val e2e = secs(t0)
    val gcS = (Jvm.gcMillis - gc0) / 1e3
    val layers = if (!traced) Map.empty[String, Double] else {
      streamLayers(ctx, dir) ++
        stageLayers(ctx, "mrf_stream.iteration", "MrfPipeline.silver") ++
        splitLayers(ctx, Seq(file), dir.resolve("layer-copy"), mrfOptions(file.toString)) ++
        SilverTables.map(n => s"MrfPipeline.silver.${n}_s" -> spanSeconds(ctx, s"MrfPipeline.silver.$n").sum) ++
        Map(
          "MrfPipeline.gold.s" -> spanSeconds(ctx, "MrfPipeline.gold").sum,
          "MrfPipeline.gold.probe_s" -> median(spanSeconds(ctx, "MrfPipeline.gold.probe")),
          "MrfPipeline.gold.rows" -> goldRows.toDouble,
          "jvm.gc_s" -> gcS)
    }
    deleteTree(dir)
    IterResult(e2e, Some(in.jsonBytes / 1e9 / (ingestS / 60)), ops.attempted, ops.failed,
      ops.errors.toSeq, layers)
  }
}

/** A directory of several seeded MRF files with mixed shapes, a third of
  * them gzip-compressed, read in one batch with `perElement` rows into
  * the fused silver plan, and queried by two exact-checked gold probes,
  * one per gold variant. Nothing is written.
  */
final class MrfFleet(ctx: Ctx, files: Int, bytesEach: Long, warmBytesEach: Long) extends Workload {
  private var main: Inputs = _
  private var warm: Inputs = _

  private def names = (0 until files).map(i => if (i % 3 == 1) f"mrf-$i%02d.json.gz" else f"mrf-$i%02d.json")

  def prepare(): Unit = {
    // one probe per gold variant: the reference-resolved one on the first
    // probe code, the inline-group one on the last
    def onePerVariant(in: Inputs) = in.copy(probes =
      in.probes.find(!_.inline).toSeq ++ in.probes.reverse.find(_.inline))
    main = onePerVariant(
      generate(ctx.work.resolve("template"), names, MrfGen.Shape.fleet, bytesEach, ctx.seed))
    warm = onePerVariant(generate(ctx.work.resolve("warm-template"), names, MrfGen.Shape.fleet,
      warmBytesEach, ctx.seed + 7))
  }

  def warmUp(): Unit = {
    val r = pass(warm.copy(probes = warm.probes.take(1)), ctx.work.resolve("warm"),
      flip = false, traced = false)
    if (r.failed > 0) throw new IllegalStateException("warm-up failed: " + r.errors.mkString("; "))
  }

  def iteration(k: Int): IterResult =
    pass(main, ctx.work.resolve(s"it$k"), ctx.flipGoldRate, ctx.traced)

  private def pass(in: Inputs, dir: Path, flip: Boolean, traced: Boolean): IterResult = {
    val spark = ctx.spark
    val t = ctx.tracer
    val fleetDir = dir.resolve("fleet")
    val copies = freshCopy(in, fleetDir)
    // a decompressed sibling left from an earlier read would let this
    // iteration skip the gunzip work users pay on first read
    copies.flatMap(c => Gunzip.decompressedName(c.getFileName.toString))
      .map(fleetDir.resolve).find(Files.exists(_))
      .foreach(s => throw new IllegalStateException(s"decompressed sibling $s exists before the read"))
    val ops = new Ops
    val gc0 = Jvm.gcMillis
    val t0 = System.nanoTime()
    var firstS = 0.0
    var goldRows = 0L
    var silver: MrfPipeline.Silver = null
    t.span("mrf_fleet.iteration") {
      val bronze = spark.read.format("payer-mrf").option("perElement", "true").load(fleetDir.toString)
      silver = MrfPipeline.silver(bronze)
      t.span("MrfPipeline.gold") {
        in.probes.zipWithIndex.foreach { case (p, i) =>
          ops(s"gold ${p.code}@${p.tin}")(t.span("MrfPipeline.gold.probe") {
            val rows = MrfPipeline.shoppablePrices(silver, p.code, p.tin).collect()
            goldRows += rows.length
            checkGold(rows, in.expected.rows(p).toSeq, flip && i == 0)
          })
          if (i == 0) firstS = secs(t0)
        }
      }
    }
    val e2e = secs(t0)
    val gcS = (Jvm.gcMillis - gc0) / 1e3
    val layers = if (!traced) Map.empty[String, Double] else {
      // the stream and sink layers on the fleet's shape (several files,
      // executor-side split), from a fresh copy streamed after the clock
      val streamDir = dir.resolve("stream")
      streamToBronze(ctx, freshCopy(in, streamDir.resolve("in")).head.getParent.toString, streamDir)
      val stream = streamLayers(ctx, streamDir)
      val stageMetrics = stageLayers(ctx, "mrf_fleet.iteration", "MrfPipeline.gold")
      // per-table cost of the fused plan, read after the timed part
      val tables = silverFrames(silver).map { case (n, df) =>
        val t1 = System.nanoTime()
        t.span(s"MrfPipeline.silver.$n")(df.write.format("noop").mode("overwrite").save())
        s"MrfPipeline.silver.${n}_s" -> secs(t1)
      }
      stream ++ stageMetrics ++ tables ++
        splitLayers(ctx, in.files, dir.resolve("layer-copy"),
          mrfOptions(in.files.head.toString, "perElement" -> "true")) ++
        Map(
          "MrfPipeline.gold.s" -> spanSeconds(ctx, "MrfPipeline.gold").sum,
          "MrfPipeline.gold.probe_s" -> median(spanSeconds(ctx, "MrfPipeline.gold.probe")),
          "MrfPipeline.gold.rows" -> goldRows.toDouble,
          "jvm.gc_s" -> gcS)
    }
    deleteTree(dir)
    IterResult(e2e, Some(in.jsonBytes / 1e9 / (firstS / 60)), ops.attempted, ops.failed,
      ops.errors.toSeq, layers)
  }
}

/** Three of the `SparkEntry.benchQueries`, each result written in full
  * (every column materialized) for the DuckDB oracle compare run.py makes
  * afterwards. Its `ingestGbMin` is the tables' parquet bytes over the
  * sum of the query times.
  */
final class Catalog(ctx: Ctx, sfDir: String, warmDir: String) extends Workload {
  // the bench queries that took 65% of graft.Bench's time, and the only
  // ones reaching Graph.triangleCounts (q162) and
  // MarketBasket.associationRules (q161); each further query adds a cold
  // warm-up and an oracle check to every run, which the run budget of
  // three workloads leaves no room for
  private val names = Seq("q25_dedup_ngram_jaccard", "q161_assoc_rules", "q162_triangle_counts")
  require(names.forall(graft.SparkEntry.benchQueries.contains), "not a bench query")
  private var tableBytes = 0L

  def prepare(): Unit = {
    require(new java.io.File(sfDir).getCanonicalPath != new java.io.File(warmDir).getCanonicalPath,
      "the warm-up directory must differ from the measured one (per-directory caches)")
    val oracle = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.createDirectories(ctx.work)
    Files.writeString(ctx.work.resolve("oracle_sql.json"), Json.write(oracle))
    tableBytes = new java.io.File(sfDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
  }

  def warmUp(): Unit = {
    names.foreach { n =>
      graft.SparkEntry.queries(n)(ctx.spark, warmDir).write.format("noop").mode("overwrite").save()
      graft.Bench.freeLocalCheckpoints(ctx.spark)
    }
    graft.queries.LlmOps.evictSharedShingleCaches(ctx.spark)
  }

  def iteration(k: Int): IterResult = {
    val spark = ctx.spark
    val out = ctx.work.resolve(s"pass$k")
    val ops = new Ops
    val gc0 = Jvm.gcMillis
    val times = names.map { n =>
      val t0 = System.nanoTime()
      ops(n)(ctx.tracer.span(s"QueryCatalog.$n") {
        graft.SparkEntry.queries(n)(spark, sfDir).write.parquet(out.resolve(n).toString)
      })
      val dt = secs(t0)
      graft.Bench.freeLocalCheckpoints(spark)
      n -> dt
    }
    graft.queries.LlmOps.evictSharedShingleCaches(spark)
    val gcS = (Jvm.gcMillis - gc0) / 1e3
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      ctx.stages.get.drain(spark.sparkContext)
      val stages = ctx.stages.get.snapshot()
      ctx.stages.get.clear()
      val spans = ctx.tracer.spans.filter(_.run == ctx.tracer.run)
      val byId = spans.map(s => s.id -> s).toMap
      def root(id: Long): Option[Span] =
        Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent))).takeWhile(_.isDefined)
          .map(_.get).find(_.name.startsWith("QueryCatalog."))
      names.flatMap { n =>
        val q = spans.find(_.name == s"QueryCatalog.$n")
        val jobs = spans.filter(s => s.name == "spark.job" && root(s.parent).exists(r => q.exists(_.id == r.id)))
        val st = stages.filter(s => root(s.span).exists(r => q.exists(_.id == r.id)))
        // driver time inside the query span not covered by any job
        val covered = jobs.map(j => (j.start, j.end)).sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
            val from = math.max(s, reach)
            (acc + math.max(0L, e - from), math.max(reach, e))
          }._1
        val span = q.map(s => s.end - s.start).getOrElse(0L)
        Seq(
          s"QueryCatalog.$n.s" -> span / 1e6,
          s"QueryCatalog.$n.jobs" -> jobs.size.toDouble,
          s"QueryCatalog.$n.gap_s" -> math.max(0L, span - covered) / 1e6,
          s"QueryCatalog.$n.shuffle_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
          s"QueryCatalog.$n.spill_bytes" -> st.map(_.spill).sum.toDouble)
      }.toMap ++ Map("jvm.gc_s" -> gcS)
    }
    val e2e = times.map(_._2).sum
    IterResult(e2e, Some(tableBytes / 1e9 / (e2e / 60)), ops.attempted, ops.failed, ops.errors.toSeq,
      layers ++ times.map { case (n, s) => s"time.$n" -> s })
  }
}
