package perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.{Charset, StandardCharsets}
import java.time.LocalDateTime
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

/** Seeded generator of DHS-shaped survey zips (CSPro DCF + DAT) and the
  * ground truth the warehouse checks need.
  *
  * Each survey zip holds a household recode (HR: HHID key, record tag at
  * 13-15) and an individual recode (IR: CASEID key, tag at 16-18). Input
  * properties the engine's behaviour depends on:
  *  - survey sizes are skewed (fixed household counts per ingest
  *    position, so every seed does the same amount of work);
  *  - 4 to 8 record types per survey (two mandatory per recode, up to two
  *    optional per recode);
  *  - HHID/CASEID are space-padded, and CASEID's 12-character prefix is the
  *    HHID (the CASEID→HHID join depends on the padding);
  *  - the schema drifts with ingest order: HV009 and V190 are widened and
  *    V745 is added part-way through the corpus;
  *  - one survey's IR dictionary is cp1252-encoded with accented labels;
  *  - the DAT files carry lines with unknown record tags.
  * Every survey also has a corrected re-delivery (version B): some V013
  * and HV025 values change and some birth records are dropped.
  */
object DhsGen {

  final case class Item(name: String, label: String, start: Int, len: Int,
      values: Seq[(String, String)] = Nil)
  final case class Rec(name: String, label: String, tag: String, items: Seq[Item])

  /** What the checks and the extraction answers need for one delivery. */
  final case class Truth(
      rows: Map[String, Long],            // record name → DAT rows
      datBytes: Long,
      womenByHv025: Map[String, Long],    // pooled CASEID→HHID join answer
      v013Labels: Map[String, Long],      // tabulation answer (decoded)
      birthsByB4: Map[String, Long],      // single-survey slice answer
      hhByCluster: Map[Int, Long])        // pruned-read answer

  final case class Survey(
      id: String, index: Int, records: Seq[String], cp1252: Boolean,
      zipA: String, zipB: String, truthA: Truth, truthB: Truth,
      /** Expected decoded label of V013 in this survey's IR dictionary. */
      v013ItemLabel: String) {
    def zip(corrected: Boolean): String = if (corrected) zipB else zipA
    def truth(corrected: Boolean): Truth = if (corrected) truthB else truthA
    def clusterBase: Int = 1000 * (index + 1)
  }

  /** Household counts (skewed) and optional record types per survey. */
  val Sizes: Seq[(Int, Int)] = Seq((1600, 4), (800, 2), (480, 3), (320, 1), (200, 0))

  val V013Labels: Seq[(String, String)] =
    Seq("15-19", "20-24", "25-29", "30-34", "35-39", "40-44", "45-49")
      .zipWithIndex.map { case (l, i) => ((i + 1).toString, l) }
  private val Hv025Labels = Seq("1" -> "Urban", "2" -> "Rural")
  private val SexLabels = Seq("1" -> "Male", "2" -> "Female")

  private val HrOptional = Seq("RECH2", "RECH4")
  private val IrOptional = Seq("REC41", "REC11")

  /** Write every survey's two zips under `dir`; returns the corpus in
    * ingest order.
    */
  def generate(seed: Long, dir: String, scale: Double = 1.0): Seq[Survey] = {
    val rnd = new Random(seed)
    new File(dir).mkdirs()
    val plan = Sizes
    val ids = rnd.shuffle((100 until 900).toList).take(plan.size).map(_.toString)
    val ccs = rnd.shuffle(List("AO", "BJ", "KE", "MW", "NG", "RW", "SN", "TZ", "UG", "ZM"))
    val cpIndex = rnd.nextInt(plan.size)
    plan.zipWithIndex.map { case ((hh, nOpt), j) =>
      val opt = rnd.shuffle(HrOptional ++ IrOptional).take(nOpt)
      val version = s"7${rnd.nextInt(9) + 1}"
      val records = Seq("RECH0", "RECH1") ++ HrOptional.filter(opt.contains) ++
        Seq("REC01", "REC21") ++ IrOptional.filter(opt.contains)
      val hrDict = hrRecords(j).filter(r => records.contains(r.name))
      val irDict = irRecords(j, j == cpIndex).filter(r => records.contains(r.name))
      val cc = ccs(j)
      val hrCode = s"${cc}HR${version}FL"
      val irCode = s"${cc}IR${version}FL"
      val hrDcf = dcf(hrDict, "HOUSEHOLD", "HHID", 12, 13,
        s"DHS household recode $cc")
      val irDcf = dcf(irDict, "INDIVIDUAL", "CASEID", 15, 16,
        if (j == cpIndex) s"Enquête Démographique et de Santé $cc" else s"DHS individual recode $cc")
      val irCharset = if (j == cpIndex) Charset.forName("windows-1252") else StandardCharsets.US_ASCII
      val surveySeed = rnd.nextLong()
      val id = ids(j)
      def deliver(corrected: Boolean): (String, Truth) = {
        val (hrDat, irDat, truth) = dat(new Random(surveySeed), (hh * scale).toInt.max(20), j,
          hrDict, irDict, corrected)
        val path = s"$dir/${id}_${if (corrected) "b" else "a"}.zip"
        writeZip(path, Seq(
          s"${hrCode.toLowerCase}.dcf" -> hrDcf.getBytes(StandardCharsets.US_ASCII),
          s"${hrCode.toLowerCase}.dat" -> hrDat,
          s"${irCode.toLowerCase}.dcf" -> irDcf.getBytes(irCharset),
          s"${irCode.toLowerCase}.dat" -> irDat))
        (path, truth)
      }
      val (za, ta) = deliver(corrected = false)
      val (zb, tb) = deliver(corrected = true)
      Survey(id, j, records, j == cpIndex, za, zb, ta, tb,
        irDict.head.items.find(_.name == "V013").get.label)
    }
  }

  // ------------------------------------------------------------ dictionaries

  private def hrRecords(j: Int): Seq[Rec] = {
    val hv009Len = if (j >= 1) 3 else 2
    Seq(
      Rec("RECH0", "Household's basic data", "H00", Seq(
        Item("HV001", "Cluster number", 16, 4),
        Item("HV002", "Household number", 20, 4),
        Item("HV025", "Type of place of residence", 24, 1, Hv025Labels),
        Item("HV009", "Number of household members", 25, hv009Len),
        Item("HV270", "Wealth index", 25 + hv009Len, 1))),
      Rec("RECH1", "Household schedule", "H01", Seq(
        Item("HVIDX", "Line number", 16, 2),
        Item("HV104", "Sex of household member", 18, 1, SexLabels),
        Item("HV105", "Age of household members", 19, 2))),
      Rec("RECH2", "Household characteristics", "H02", Seq(
        Item("HV206", "Has electricity", 16, 1),
        Item("HV207", "Has radio", 17, 1),
        Item("HV208", "Has television", 18, 1))),
      Rec("RECH4", "Household water and sanitation", "H04", Seq(
        Item("HV230A", "Place where household members wash their hands", 16, 1),
        Item("HV232", "Items present: Soap or detergent", 17, 1))))
  }

  private def irRecords(j: Int, accented: Boolean): Seq[Rec] = {
    val v190Len = if (j >= 2) 2 else 1
    val rec01 = Seq(
      Item("V001", "Cluster number", 19, 4),
      Item("V002", "Household number", 23, 4),
      Item("V003", "Respondent's line number", 27, 2),
      Item("V013", if (accented) "Groupe d'âge quinquennal" else "Age in 5-year groups",
        29, 1, V013Labels),
      Item("V190", "Wealth index", 30, v190Len)) ++
      (if (j >= 3) Seq(Item("V745", "Owns a house", 30 + v190Len, 2)) else Nil)
    Seq(
      Rec("REC01", "Respondent's basic data", "I01", rec01),
      Rec("REC21", "Birth history", "I21", Seq(
        Item("BIDX", "Birth column number", 19, 2),
        Item("B4", "Sex of child", 21, 1, SexLabels),
        Item("B2", "Year of birth", 22, 4))),
      Rec("REC41", "Pregnancy and postnatal care", "I41", Seq(
        Item("MIDX", "Index to birth history", 19, 1),
        Item("M15", "Place of delivery", 20, 2))),
      Rec("REC11", "Reproduction", "I11", Seq(
        Item("V201", "Total children ever born", 19, 2),
        Item("V212", "Age of respondent at 1st birth", 21, 2))))
  }

  private def dcf(recs: Seq[Rec], level: String, idName: String, idLen: Int,
      tagStart: Int, label: String): String = {
    val sb = new StringBuilder
    def kv(pairs: (String, Any)*): Unit = {
      pairs.foreach { case (k, v) => sb.append(k).append('=').append(v).append('\n') }
    }
    sb.append("[Dictionary]\n")
    kv("Version" -> "CSPro 7.3", "Label" -> label, "Name" -> s"${level}_DICT",
      "RecordTypeStart" -> tagStart, "RecordTypeLen" -> 3, "Positions" -> "Absolute",
      "ZeroFill" -> "No", "DecimalChar" -> "No")
    sb.append("\n[Level]\n"); kv("Label" -> level, "Name" -> level)
    sb.append("\n[IdItems]\n")
    sb.append("\n[Item]\n")
    kv("Label" -> (if (idName == "HHID") "Case Identification" else "Case Identification (individual)"),
      "Name" -> idName, "Start" -> 1, "Len" -> idLen, "DataType" -> "Alpha")
    recs.foreach { r =>
      sb.append("\n[Record]\n")
      kv("Label" -> r.label, "Name" -> r.name, "RecordTypeValue" -> s"'${r.tag}'")
      r.items.foreach { it =>
        sb.append("\n[Item]\n")
        kv("Label" -> it.label, "Name" -> it.name, "Start" -> it.start, "Len" -> it.len)
        if (it.values.nonEmpty) {
          sb.append("\n[ValueSet]\n")
          kv("Label" -> it.label, "Name" -> s"${it.name}_VS1")
          it.values.foreach { case (v, d) => kv("Value" -> s"$v;$d") }
        }
      }
    }
    sb.append('\n').toString
  }

  // -------------------------------------------------------------------- data

  private final class Line(width: Int) {
    private val c = Array.fill(width)(' ')
    def put(start: Int, s: String): Line = {
      s.zipWithIndex.foreach { case (ch, i) => c(start - 1 + i) = ch }; this
    }
    /** Right-aligned, space-padded numeric field (the DHS DAT convention). */
    def num(it: Item, v: Int): Line = put(it.start, s"%${it.len}d".format(v))
    override def toString: String = new String(c)
  }

  private def dat(rnd: Random, households: Int, j: Int, hr: Seq[Rec], ir: Seq[Rec],
      corrected: Boolean): (Array[Byte], Array[Byte], Truth) = {
    val hrOut = new StringBuilder
    val irOut = new StringBuilder
    val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val byHv025 = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val byV013 = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val byB4 = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val byCluster = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    def rec(rs: Seq[Rec], name: String): Option[Rec] = rs.find(_.name == name)
    def item(r: Rec, n: String): Item = r.items.find(_.name == n).get
    def emit(out: StringBuilder, r: Rec, l: Line): Unit = {
      out.append(l.toString.replaceAll("\\s+$", "")).append('\n'); rows(r.name) += 1
    }
    val hrWidth = 40
    val irWidth = 40
    for (h <- 0 until households) {
      // the correction draws come from their own stream so version A and B
      // share every other value
      val fix = new Random(rnd.nextLong())
      val cluster = 1000 * (j + 1) + h / 20
      val hhid = f"$cluster%8d${h % 20 + 1}%4d"
      val members = 1 + rnd.nextInt(8)
      var hv025 = 1 + rnd.nextInt(2)
      if (corrected && fix.nextInt(20) == 0) hv025 = 3 - hv025
      byCluster(cluster) += 1
      rec(hr, "RECH0").foreach { r =>
        emit(hrOut, r, new Line(hrWidth).put(1, hhid).put(13, r.tag)
          .num(item(r, "HV001"), cluster).num(item(r, "HV002"), h % 20 + 1)
          .num(item(r, "HV025"), hv025).num(item(r, "HV009"), members)
          .num(item(r, "HV270"), 1 + rnd.nextInt(5)))
      }
      rec(hr, "RECH1").foreach { r =>
        for (m <- 1 to members)
          emit(hrOut, r, new Line(hrWidth).put(1, hhid).put(13, r.tag)
            .num(item(r, "HVIDX"), m).num(item(r, "HV104"), 1 + rnd.nextInt(2))
            .num(item(r, "HV105"), rnd.nextInt(90)))
      }
      rec(hr, "RECH2").foreach { r =>
        emit(hrOut, r, new Line(hrWidth).put(1, hhid).put(13, r.tag)
          .num(item(r, "HV206"), rnd.nextInt(2)).num(item(r, "HV207"), rnd.nextInt(2))
          .num(item(r, "HV208"), rnd.nextInt(2)))
      }
      rec(hr, "RECH4").foreach { r =>
        emit(hrOut, r, new Line(hrWidth).put(1, hhid).put(13, r.tag)
          .num(item(r, "HV230A"), 1 + rnd.nextInt(4)).num(item(r, "HV232"), rnd.nextInt(2)))
      }
      if (rnd.nextInt(150) == 0) {
        hrOut.append(new Line(hrWidth).put(1, hhid).put(13, "HX9").put(16, "junk").toString.trim).append('\n')
      }
      val women = Seq(0, 1, 1, 1, 2)(rnd.nextInt(5)).min(members)
      for (w <- 1 to women) {
        val caseid = hhid + f"$w%3d"
        var v013 = 1 + rnd.nextInt(7)
        if (corrected && fix.nextInt(10) == 0) v013 = math.min(7, v013 + 1)
        val births = rnd.nextInt(5)
        rec(ir, "REC01").foreach { r =>
          val l = new Line(irWidth).put(1, caseid).put(16, r.tag)
            .num(item(r, "V001"), cluster).num(item(r, "V002"), h % 20 + 1)
            .num(item(r, "V003"), w).num(item(r, "V013"), v013)
            .num(item(r, "V190"), 1 + rnd.nextInt(5))
          r.items.find(_.name == "V745").foreach(it => l.num(it, rnd.nextInt(4)))
          emit(irOut, r, l)
          byHv025(hv025.toString) += 1
          byV013(V013Labels(v013 - 1)._2) += 1
        }
        rec(ir, "REC21").foreach { r =>
          for (b <- 1 to births) {
            val sex = 1 + rnd.nextInt(2)
            val year = 1990 + rnd.nextInt(30)
            val dropped = corrected && fix.nextInt(20) == 0
            if (!dropped) {
              emit(irOut, r, new Line(irWidth).put(1, caseid).put(16, r.tag)
                .num(item(r, "BIDX"), b).num(item(r, "B4"), sex).num(item(r, "B2"), year))
              byB4(sex.toString) += 1
            }
          }
        }
        rec(ir, "REC41").foreach { r =>
          for (b <- 1 to math.min(births, 2))
            emit(irOut, r, new Line(irWidth).put(1, caseid).put(16, r.tag)
              .num(item(r, "MIDX"), b).num(item(r, "M15"), 10 + rnd.nextInt(30)))
        }
        rec(ir, "REC11").foreach { r =>
          emit(irOut, r, new Line(irWidth).put(1, caseid).put(16, r.tag)
            .num(item(r, "V201"), births).num(item(r, "V212"), 14 + rnd.nextInt(20)))
        }
        if (rnd.nextInt(100) == 0) {
          irOut.append(new Line(irWidth).put(1, caseid).put(16, "IX9").put(19, "??").toString.trim).append('\n')
        }
      }
    }
    val hrBytes = hrOut.toString.getBytes(StandardCharsets.US_ASCII)
    val irBytes = irOut.toString.getBytes(StandardCharsets.US_ASCII)
    (hrBytes, irBytes, Truth(rows.toMap, hrBytes.length.toLong + irBytes.length,
      byHv025.toMap, byV013.toMap, byB4.toMap, byCluster.toMap))
  }

  /** Zip with fixed entry times, so one seed gives byte-identical files. */
  def writeZip(path: String, entries: Seq[(String, Array[Byte])]): Unit = {
    val bytes = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bytes)
    try entries.foreach { case (name, data) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(LocalDateTime.of(2020, 1, 1, 0, 0))
      zos.putNextEntry(e); zos.write(data); zos.closeEntry()
    } finally zos.close()
    val os = new FileOutputStream(path)
    try os.write(bytes.toByteArray) finally os.close()
  }
}
