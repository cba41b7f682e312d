package mrfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded synthetic CMS in-network-rates document (one huge single JSON
  * object), streamed to disk so a large target never needs a large heap.
  *
  * Every document mixes the real-world shapes the splitter and silver
  * depend on, drawn from the seed:
  *  - `provider_references` indirection vs inline per-rate
  *    `provider_groups` (both gold variants);
  *  - remote `location` provider references (silver rows with null
  *    npi/tin that must never reach gold);
  *  - `bundle` items carrying `bundled_codes` (excluded from FFS gold);
  *  - byte-identical duplicate items (collapsed by silver);
  *  - escaped and non-ASCII strings in names, both as raw UTF-8 and as
  *    `\u` escapes, including surrogate pairs;
  *  - `provider_references` before or after `in_network`.
  *
  * How much of each shape a document holds is set by [[Shape]].
  *
  * While writing, the generator records the exact gold rows every
  * probe `(billing code, TIN)` must return, derived from the generation
  * grammar alone (never from the engine): [[Expected]].
  */
object MrfGen {

  /** The mix of shapes in one document. The benchmark keeps these fixed
    * per workload (not per seed), so every seed gives the same amount of
    * work and the seed varies only the content.
    */
  final case class Shape(
      groups: Int,
      tins: Int,
      codes: Int,
      remoteShare: Double,
      inlineShare: Double,
      bundleShare: Double,
      dupShare: Double,
      refsFirst: Boolean)

  object Shape {
    /** A document with every shape in moderate measure. */
    val mixed: Shape = Shape(600, 200, 2000, 0.05, 0.25, 0.10, 0.02, refsFirst = true)

    /** The fleet's files differ in shape from each other. */
    val fleet: IndexedSeq[Shape] = IndexedSeq(
      mixed,
      Shape(300, 120, 1500, 0.02, 0.60, 0.05, 0.01, refsFirst = false), // mostly inline groups
      Shape(900, 300, 2500, 0.20, 0.10, 0.05, 0.02, refsFirst = true), // many remote references
      Shape(500, 200, 2000, 0.05, 0.20, 0.30, 0.02, refsFirst = false), // bundle-heavy
      Shape(600, 200, 1000, 0.05, 0.25, 0.10, 0.10, refsFirst = true), // many duplicates
      Shape(400, 150, 3000, 0.05, 0.40, 0.10, 0.02, refsFirst = false))
  }

  final case class Probe(code: String, tin: String, inline: Boolean)

  /** Gold rows per probe, each rendered by [[goldRow]]. */
  final class Expected {
    val rows = mutable.Map.empty[Probe, mutable.ArrayBuffer[String]]
    def add(p: Probe, r: String): Unit =
      rows.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += r
  }

  /** One file written: its JSON bytes before compression, and the number
    * of distinct items (what silver keeps after deduplication).
    */
  final case class Written(jsonBytes: Long, distinctItems: Int)

  private final case class Group(npi: Seq[Long], tinType: String, tin: String)

  /** The canonical text of one gold row: the 12 columns of
    * `MrfPipeline.shoppablePrices`, in order, nulls as `null`.
    */
  def goldRow(
      fileName: String, entity: String, code: String, codeType: String, name: String,
      rate: Double, billingClass: String, serviceCode: Option[Seq[String]],
      expiration: String, groupId: Option[Long], npi: Seq[Long], tinType: String,
      tin: String): String =
    Seq(fileName, entity, code, codeType, name, rate.toString, billingClass,
      serviceCode.map(_.mkString("[", ",", "]")).getOrElse("null"), expiration,
      groupId.map(_.toString).getOrElse("null"), npi.mkString("[", ",", "]"),
      tinType, tin).mkString("|")

  /** JSON string literal of `s`; `asciiOnly` writes every non-ASCII
    * char as a `\u` escape (surrogate pairs included), otherwise raw
    * UTF-8.
    */
  def jsonString(s: String, asciiOnly: Boolean): String = {
    val sb = new StringBuilder(s.length + 8).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' || (asciiOnly && c > '~') => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private val nameDecor = Seq(
    "café", "\"quoted\"", "back\\slash", "Ñandú", "✓ check",
    "😀 smile", "tab\there", "日本")

  /** Probe codes for a seed: billing codes that exist in every shape. */
  def probeCodes(seed: Long, count: Int): Seq[String] = {
    val r = new SplittableRandom(seed ^ 0x9e3779b97f4a7c15L)
    Iterator.continually(s"C${r.nextInt(1000)}").distinct.take(count).toSeq
  }

  /** Write one document of about `targetBytes` to `path` (gzip when the
    * name ends in `.gz`). Gold rows for every probe code in `codes` are
    * added to `byTin`, keyed by (code, TIN, inline); [[chooseProbes]]
    * picks the TINs afterwards.
    */
  def write(
      path: java.nio.file.Path,
      targetBytes: Long,
      seed: Long,
      shape: Shape,
      codes: Set[String],
      byTin: mutable.Map[(String, String, Boolean), mutable.ArrayBuffer[String]]): Written = {
    val probeList = codes.toIndexedSeq.sorted
    val gz = path.getFileName.toString.endsWith(".gz")
    val fileName = path.getFileName.toString.stripSuffix(".gz")
    val r = new SplittableRandom(seed)
    val raw = new FileOutputStream(path.toFile)
    val sink: OutputStream =
      if (gz) new java.util.zip.GZIPOutputStream(raw, 1 << 16) else raw
    val out = new BufferedOutputStream(sink, 1 << 20)
    var bytes = 0L
    def put(s: String): Unit = { val b = s.getBytes(UTF_8); out.write(b); bytes += b.length }

    val entity = s"Payer \"${nameDecor(r.nextInt(nameDecor.size))}\" #$seed"
    def tinOf(k: Int) = s"TIN-${k + 1}"
    val groups: IndexedSeq[Option[Seq[Group]]] = (1 to shape.groups).map { g =>
      if (r.nextDouble() < shape.remoteShare) None
      else Some((0 until 1 + r.nextInt(2)).map { k =>
        Group(
          Seq.tabulate(1 + r.nextInt(3))(n => g * 1000L + k * 10 + n),
          if (r.nextInt(10) == 0) "npi" else "ein",
          tinOf(r.nextInt(shape.tins)))
      })
    }
    def groupJson(gr: Group): String =
      s"""{"npi":${gr.npi.mkString("[", ",", "]")},"tin":{"type":"${gr.tinType}","value":"${gr.tin}"}}"""

    def writeRefs(): Unit = {
      put(""""provider_references":[""")
      groups.zipWithIndex.foreach { case (gs, i) =>
        if (i > 0) put(",")
        val id = i + 1
        gs match {
          case Some(list) =>
            put(s"""{"provider_group_id":$id,"provider_groups":${list.map(groupJson).mkString("[", ",", "]")}}""")
          case None =>
            put(s"""{"provider_group_id":$id,"location":"https://mrf.example.com/groups/$id.json"}""")
        }
      }
      put("]")
    }

    var items = 0
    var distinct = 0
    def writeItems(): Unit = {
      put(""""in_network":[""")
      var prev: String = null
      while (bytes < targetBytes - 256 || items < 20) {
        if (items > 0) put(",")
        if (prev != null && r.nextDouble() < shape.dupShare) {
          // byte-identical duplicate: silver collapses it, gold must not
          // count it twice
          put(prev)
        } else {
          val i = items
          val bundle = r.nextDouble() < shape.bundleShare
          // billing codes are skewed in real files: the probe codes are
          // common ones, so every document size has rows for them
          val code =
            if (r.nextInt(40) == 0) probeList(r.nextInt(probeList.size))
            else s"C${r.nextInt(shape.codes)}"
          val codeType = if (r.nextInt(4) == 0) "HCPCS" else "CPT"
          val decor = nameDecor(r.nextInt(nameDecor.size))
          val name = s"ITEM $i $decor"
          val ascii = r.nextBoolean()
          val sb = new StringBuilder(1024)
          sb.append(s"""{"negotiation_arrangement":"${if (bundle) "bundle" else "ffs"}",""")
          sb.append(s""""name":${jsonString(name, ascii)},"billing_code_type":"$codeType",""")
          sb.append(s""""billing_code_type_version":"2026","billing_code":"$code",""")
          sb.append(s""""description":${jsonString(s"synthetic $decor item", !ascii)},""")
          if (bundle) {
            val n = 1 + r.nextInt(3)
            sb.append(""""bundled_codes":""")
            sb.append((0 until n).map(k =>
              s"""{"billing_code_type":"CPT","billing_code_type_version":"2026","billing_code":"B${r.nextInt(500)}","description":"component $k"}""")
              .mkString("[", ",", "]"))
            sb.append(",")
          }
          sb.append(""""negotiated_rates":[""")
          val nRates = 1 + r.nextInt(3)
          for (j <- 0 until nRates) {
            if (j > 0) sb.append(",")
            val inline = r.nextDouble() < shape.inlineShare
            // providers of this rate: (group id or None for inline, group)
            val providers: Seq[(Option[Long], Group)] =
              if (inline) {
                val gs = (0 until 1 + r.nextInt(2)).map(k => Group(
                  Seq(9000000L + i * 10L + j * 3 + k), "ein", tinOf(r.nextInt(shape.tins))))
                sb.append(s"""{"provider_groups":${gs.map(groupJson).mkString("[", ",", "]")},""")
                gs.map(None -> _)
              } else {
                val ids = Iterator.continually(1 + r.nextInt(shape.groups)).distinct
                  .take(1 + r.nextInt(3)).toSeq
                sb.append(s"""{"provider_references":${ids.mkString("[", ",", "]")},""")
                ids.flatMap(id => groups(id - 1).getOrElse(Nil).map(g => Some(id.toLong) -> g))
              }
            sb.append(""""negotiated_prices":[""")
            val nPrices = 1 + r.nextInt(3)
            for (k <- 0 until nPrices) {
              if (k > 0) sb.append(",")
              val negotiated = k == 0 || r.nextInt(3) > 0
              val rate = (100 + r.nextInt(999900)) / 100.0
              val cls = if (r.nextBoolean()) "professional" else "institutional"
              val svc =
                if (r.nextInt(4) == 0) None
                else Some(Seq.fill(1 + r.nextInt(2))(f"${r.nextInt(99) + 1}%02d"))
              val expiry = if (r.nextInt(5) == 0) "2027-06-30" else "9999-12-31"
              sb.append(s"""{"negotiated_type":"${if (negotiated) "negotiated" else "percentage"}",""")
              sb.append(s""""negotiated_rate":$rate,"expiration_date":"$expiry",""")
              svc.foreach(s => sb.append(s""""service_code":${s.map("\"" + _ + "\"").mkString("[", ",", "]")},"""))
              if (r.nextInt(8) == 0) sb.append(""""billing_code_modifier":["26"],""")
              sb.append(s""""billing_class":"$cls"}""")
              if (negotiated && !bundle && codes(code)) providers.foreach { case (gid, g) =>
                byTin.getOrElseUpdate((code, g.tin, gid.isEmpty), mutable.ArrayBuffer.empty) +=
                  goldRow(fileName, entity, code, codeType, name, rate, cls, svc, expiry,
                    gid, g.npi, g.tinType, g.tin)
              }
            }
            sb.append("]}")
          }
          sb.append("]}")
          prev = sb.toString
          put(prev)
          distinct += 1
        }
        items += 1
      }
      put("]")
    }

    try {
      put(s"""{"reporting_entity_name":${jsonString(entity, r.nextBoolean())},""")
      put(""""reporting_entity_type":"health insurance issuer","plan_name":"bench plan",""")
      put(""""last_updated_on":"2026-01-01","version":"1.3.1",""")
      if (shape.refsFirst) { writeRefs(); put(","); writeItems() }
      else { writeItems(); put(","); writeRefs() }
      put("}")
    } finally out.close()
    Written(bytes, distinct)
  }

  /** Pick, per probe code, one TIN reached through provider references
    * and one reached only through inline groups, preferring the TIN with
    * the most rows. Every returned probe has at least one expected row.
    */
  def chooseProbes(
      codes: Seq[String],
      byTin: mutable.Map[(String, String, Boolean), mutable.ArrayBuffer[String]],
      exp: Expected): Seq[Probe] =
    codes.flatMap { code =>
      Seq(false, true).flatMap { inline =>
        val cands = byTin.toSeq.collect { case ((c, t, i), rs) if c == code && i == inline => t -> rs.size }
        if (cands.isEmpty) None
        else {
          val tin = cands.maxBy { case (t, n) => (n, t) }._1
          val p = Probe(code, tin, inline)
          // a TIN can be reached both ways: gold returns both variants
          Seq(false, true).foreach(v => byTin.get((code, tin, v)).foreach(_.foreach(exp.add(p, _))))
          Some(p)
        }
      }
    }
}
