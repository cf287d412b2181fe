package perfbench

import java.io.File
import java.util.Properties

import scala.collection.mutable
import scala.util.Random

import graft.catalog.{Reconcile, SpecCatalog}
import graft.cspro.{DatReader, DcfSource}
import graft.load.{DdlManager, Warehouse}
import graft.model.{ColumnSpec, ValueSpec}
import graft.query.RelationJoins
import graft.sources.Organize
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `dhs_warehouse`: the paper's whole job, writes beside reads.
  *
  * Ingest op for survey i (in order): organize → DCF parse → spec merge +
  * reconcile → DDL plan + execute against in-memory Derby → DAT routing →
  * one parquet write per record type, partitioned by `surveyid`. Every
  * `ReloadEvery`-th op re-delivers an earlier survey with corrections
  * through `Warehouse.overwritePartitionsDynamic` (the reference's slice
  * drop-and-reload). After every op a seeded batch of extractions runs over
  * every survey loaded so far: the pooled CASEID→HHID join, a tabulation
  * decoded through value labels, a single-survey slice through partition
  * pruning, and a manifest-pruned read (`Warehouse.prunedRead`). Each
  * extraction answer is compared with the generator's.
  */
final class Dhs(spark: SparkSession, seed: Long, val tr: Tracer, scale: Double = 1.0) extends Workload {
  import Dhs._

  private var dir: String = _
  private var surveys: Seq[DhsGen.Survey] = Nil
  private var derbyUrl: String = _
  private val derbyProps = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  // state of the warehouse: survey id → which delivery is loaded
  private val loaded = mutable.LinkedHashMap.empty[String, Boolean]
  private val specs = mutable.Map.empty[String, Seq[ColumnSpec]]  // survey → items
  private val versions = mutable.Map.empty[(String, String), String] // (survey, filetype) → version
  private var manifest: Seq[Row] = Nil
  private var manifestSchema: org.apache.spark.sql.types.StructType = _

  private var ops = 0L
  private var fails = 0L
  private val ingestS = mutable.ArrayBuffer.empty[Double]
  private val extractMs = mutable.ArrayBuffer.empty[Double]
  private var records = 0L
  private var loopS = 0.0
  private val prunedRatios = mutable.ArrayBuffer.empty[Double]
  private val decisions = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val labelsSeen = mutable.Map.empty[String, String]

  private def wh(table: String) = s"$dir/warehouse/$table"

  def warmup(d: String): Unit = {
    extractBatch(new Random(seed), 4)
    ops = 0
  }

  /** Generate the corpus and load the smallest survey: the timed loop
    * starts from a warehouse that already holds one survey.
    */
  def setup(d: String, rep: Int): Unit = {
    dir = d
    surveys = DhsGen.generate(seed, s"$d/inputs", scale)
    derbyUrl = s"jdbc:derby:memory:perfbench_${seed}_${rep + 1};create=true"
    loaded.clear(); specs.clear(); versions.clear(); manifest = Nil; labelsSeen.clear()
    ingest(surveys.minBy(_.truthA.datBytes), corrected = false, reload = false)
  }

  def run(seconds: Double): Unit = {
    val rnd = new Random(seed ^ 0x5eedL)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val pending = surveys.filterNot(s => loaded.contains(s.id))
    var op = 0
    var next = 0
    var reloads = 0
    ingestS.clear(); extractMs.clear()
    prunedRatios.clear(); decisions.clear(); records = 0L
    while (elapsed < HardCapS && (op < MinOps || elapsed < seconds)) {
      val reload = (op + 1) % ReloadEvery == 0 || next >= pending.size
      if (reload) {
        val s = surveys.filter(x => loaded.contains(x.id))(reloads % loaded.size)
        attempt(ingest(s, corrected = !loaded(s.id), reload = true))
        records += s.truth(loaded(s.id)).rows.values.sum
        reloads += 1
      } else {
        val s = pending(next)
        val (_, t) = Util.time(attempt(ingest(s, corrected = false, reload = false)))
        ingestS += t
        records += s.truthA.rows.values.sum
        next += 1
      }
      extractBatch(rnd, ExtractionsPerOp)
      op += 1
    }
    loopS = elapsed
  }

  private def attempt(body: => Unit): Unit = {
    ops += 1
    try body
    catch { case e: Exception =>
      fails += 1
      System.err.println(s"[perfbench] dhs op failed: $e")
      e.printStackTrace()
    }
  }

  // ------------------------------------------------------------------ ingest

  private def ingest(s: DhsGen.Survey, corrected: Boolean, reload: Boolean): Unit = {
    val staged = s"$dir/staged"
    val (dcfs, dats) = tr.span("sources.organize") {
      Organize.unzipAndSort(s.zip(corrected), s.id, staged)
      val routed = Organize.routeByExtension(Organize.listDir(spark, s"$staged/${s.id}"))
        .select("path", "route").collect()
      (routed.filter(_.getString(1) == "dcf").map(_.getString(0)).sorted.toSeq,
        routed.filter(_.getString(1) == "dat").map(_.getString(0)).sorted.toSeq)
    }
    require(dcfs.size == 2 && dats.size == 2, s"survey ${s.id}: expected 2 DCF + 2 DAT, got $dcfs $dats")

    val parsed = tr.span("cspro.dcf_parse") {
      DcfSource.parseFiles(spark, s"$staged/${s.id}/*.DCF").collect().toSeq
    }
    val byCode = parsed.map(p => p.fileCode -> p).toMap
    parsed.foreach(_.items.find(_.name == "V013").foreach(c => labelsSeen(s.id) = c.label))

    val merged = tr.span("catalog.reconcile") {
      import spark.implicits._
      parsed.foreach { p =>
        val ft = p.fileCode.substring(2, 4)
        val fileVersion = p.fileCode.substring(4)
        val db = specs.getOrElse(s.id, Nil).filter(_.fileCode == p.fileCode)
        val d = Reconcile.decide(versions.get((s.id, ft)).toSeq, fileVersion,
          p.items.toDF(), db.toDF(), Reconcile.ColumnSpecDiffCols)
        decisions += ((s.id, reload, d.getClass.getSimpleName))
        versions((s.id, ft)) = fileVersion
      }
      specs(s.id) = parsed.flatMap(_.items)
      val all = specs.values.flatten.filter(_.itemType != "RecordDesciption").toSeq
      SpecCatalog.mergeColumns(all.toDF()).collect()
        .map(r => (r.getString(0), DdlManager.ColumnDef(r.getString(1), r.getInt(2))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    }

    tr.span("load.ddl") {
      parsed.flatMap(recordNames).foreach { rec =>
        val table = rec.toLowerCase
        val current = derbyColumns(table)
        val plan =
          if (current.isEmpty) DdlManager.prepareTablePlan(table, merged(rec))
          else DdlManager.evolvePlan(table, current, merged(rec))
        DdlManager.execute(derbyDialect(plan), derbyUrl, derbyProps)
      }
    }

    val routedDir = s"$dir/routed/${s.id}"
    tr.span("cspro.dat_route") {
      dats.foreach { dat =>
        val code = DcfSource.fileCodeOf(dat)
        DatReader.routeToStorage(spark.read.text(dat), byCode(code).items, s"$routedDir/$code")
      }
    }
    val lines = s.truth(corrected).rows.values.sum
    tr.extraLast("cspro.dat_route", "lines", lines.toDouble)

    val writeSpan = if (reload) "load.slice_reload" else "load.table_write"
    tr.span(writeSpan) {
      parsed.foreach { p =>
        recordNames(p).foreach { rec =>
          val df = DatReader.readRouted(spark, s"$routedDir/${p.fileCode}", p.items, rec, Some(s.id))
          if (reload) Warehouse.overwritePartitionsDynamic(df, wh(rec), Seq("surveyid"))
          else df.write.mode("append").partitionBy("surveyid").parquet(wh(rec))
        }
      }
      val labels = labelFrame(parsed.flatMap(_.values), s.id)
      if (reload) Warehouse.overwritePartitionsDynamic(labels, wh(LabelTable), Seq("surveyid"))
      else labels.write.mode("append").partitionBy("surveyid").parquet(wh(LabelTable))
      // the file-stats manifest the pruned read plans from, rebuilt per write
      val m = Warehouse.statsManifest(spark, wh("RECH0"), Seq("hv001"))
      manifest = m.collect().toSeq
      manifestSchema = m.schema
    }
    if (tr.enabled) {
      val parts = s.records.map(r => s"${wh(r)}/surveyid=${s.id}")
      tr.extraLast(writeSpan, "files", parts.map(p => Util.filesUnder(p, ".parquet").size).sum.toDouble)
      tr.extraLast(writeSpan, "bytes", parts.map(Util.dirBytes).sum.toDouble)
    }
    loaded(s.id) = corrected
  }

  private def recordNames(p: DcfSource.ParsedFile): Seq[String] =
    p.items.filter(_.itemType != "RecordDesciption").map(_.recordName).distinct

  private def labelFrame(values: Seq[ValueSpec], surveyId: String): DataFrame = {
    import spark.implicits._
    values.toDF().select(col("name"), col("value"), col("valueDesc").as("valuedesc"))
      .withColumn("surveyid", lit(surveyId))
  }

  private def derbyColumns(table: String): Map[String, Int] = {
    val conn = java.sql.DriverManager.getConnection(derbyUrl, derbyProps)
    try {
      val rs = conn.getMetaData.getColumns(null, null, table, null)
      val out = mutable.Map.empty[String, Int]
      while (rs.next()) out(rs.getString("COLUMN_NAME")) = rs.getInt("COLUMN_SIZE")
      out.toMap
    } finally conn.close()
  }

  // ------------------------------------------------------------- extraction

  private def read(table: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(wh(table))
      .withColumn("surveyid", col("surveyid").cast("string"))

  private def current: Seq[(DhsGen.Survey, DhsGen.Truth)] =
    surveys.filter(s => loaded.contains(s.id)).map(s => s -> s.truth(loaded(s.id)))

  private def extractBatch(rnd: Random, n: Int): Unit = {
    for (i <- 0 until n) {
      val kind = i % 4
      ops += 1
      val (ok, t) = Util.time(try extract(kind, rnd) catch { case e: Exception =>
        System.err.println(s"[perfbench] extraction $kind failed: $e"); false })
      if (!ok) fails += 1
      extractMs += t * 1000
    }
  }

  /** One extraction; true when the answer equals the generator's. */
  private def extract(kind: Int, rnd: Random): Boolean = tr.span("query.extract") {
    val cur = current
    val pick = cur(rnd.nextInt(cur.size))
    val (got, want): (Map[String, Long], Map[String, Long]) = kind match {
      case 0 =>
        val w = read("REC01").select(col("caseid"), col("surveyid").as("sv"))
        val h = read("RECH0").select(col("hhid"), col("surveyid").as("hsv"), col("hv025"))
        val q = RelationJoins.joinHousehold(w, h).filter(col("sv") === col("hsv"))
          .groupBy("hv025").count()
        (collectCounts(q), sumMaps(cur.map(_._2.womenByHv025)))
      case 1 =>
        val labels = read(LabelTable).filter(col("name") === "V013")
          .select(col("surveyid"), col("value").as("v013"), col("valuedesc"))
        val q = read("REC01").groupBy("surveyid", "v013").count()
          .join(broadcast(labels), Seq("surveyid", "v013"))
          .groupBy("valuedesc").agg(sum("count").cast("long").as("count"))
        (collectCounts(q), sumMaps(cur.map(_._2.v013Labels)))
      case 2 =>
        val q = read("REC21").filter(col("surveyid") === pick._1.id).groupBy("b4").count()
        (collectCounts(q), pick._2.birthsByB4)
      case _ =>
        val base = pick._1.clusterBase
        val nClusters = pick._2.hhByCluster.size
        val lo = base + rnd.nextInt(math.max(1, nClusters - 4))
        val hi = lo + 3
        val m = spark.createDataFrame(java.util.Arrays.asList(manifest: _*), manifestSchema)
        val (df, kept, total) = Warehouse.prunedRead(spark, m, "hv001", lo.toString, hi.toString)
        prunedRatios += 1.0 - kept.toDouble / total
        (Map("n" -> countOf(df)),
          Map("n" -> (lo to hi).map(c => pick._2.hhByCluster.getOrElse(c, 0L)).sum))
    }
    if (got != want) System.err.println(s"[perfbench] extraction $kind answer $got != expected $want")
    got == want
  }

  private def planned(df: DataFrame): DataFrame = {
    if (tr.enabled) {
      val (_, t) = Util.time(df.queryExecution.executedPlan)
      tr.extra("plan_ms", t * 1000)
    }
    df
  }

  private def collectCounts(q: DataFrame): Map[String, Long] =
    planned(q).collect().map(r => r.get(0).toString -> r.getLong(1)).toMap

  private def countOf(df: DataFrame): Long =
    planned(df.agg(count(lit(1)))).collect().head.getLong(0)

  // ------------------------------------------------------------------ checks

  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = current
    if (cur.size < MinOps) out += s"only ${cur.size} surveys loaded"
    val tables = cur.flatMap(_._1.records).distinct
    val actual = tables.flatMap { t =>
      read(t).groupBy("surveyid").count().collect().map(r => (r.getString(0), t) -> r.getLong(1))
    }.toMap
    out ++= Dhs.checkRowCounts(actual, cur.flatMap { case (s, t) => t.rows.map { case (r, n) => (s.id, r) -> n } }.toMap)
    cur.foreach { case (s, t) =>
      out ++= Dhs.checkUnknownTagsSkipped(spark, s"$dir/routed/${s.id}", s.records, t.rows.values.sum)
    }
    out ++= Dhs.checkJoinCardinality(read("REC01"), read("RECH0"), cur.map(_._2.womenByHv025.values.sum).sum)
    decisions.foreach { case (id, reload, d) =>
      val want = if (reload) "Skip" else "Load"
      if (d != want) out += s"survey $id: reconcile decided $d, expected $want"
    }
    surveys.filter(_.cp1252).foreach { s =>
      if (labelsSeen.get(s.id).exists(_ != s.v013ItemLabel))
        out += s"survey ${s.id}: cp1252 label decoded as ${labelsSeen(s.id)}, expected ${s.v013ItemLabel}"
    }
    out.toSeq
  }

  def attempted: Long = ops
  def failed: Long = fails

  def endToEnd(): Seq[(String, Double, String)] = {
    val stored = tablesBytes()
    Seq(
      ("records_per_s", records / math.max(loopS, 1e-9), "1/s"),
      ("op_s_p50", Util.median(ingestS.toSeq), "s"),
      ("stored_bytes_per_input_byte", stored.toDouble / current.map(_._2.datBytes).sum, "ratio"))
  }

  private def tablesBytes(): Long =
    current.flatMap(_._1.records).distinct.map(t => Util.dirBytes(wh(t))).sum

  private def tailPct: Option[Int] =
    Seq(99, 95, 90, 75).find(p => extractMs.size * (100 - p) / 100 >= 10)

  def summary(): Seq[(String, Double, String)] = {
    val ingestWall = ingestS.sum
    Seq(
      ("ingest_s_p50", Util.median(ingestS.toSeq), "s"),
      ("ingest_mb_per_s", current.map(_._2.datBytes).sum / 1e6 / math.max(ingestWall, 1e-9), "MB/s"),
      ("extract_ms_p50", Util.median(extractMs.toSeq), "ms"),
      ("extract_samples", extractMs.size.toDouble, "count"),
      ("input_mb", surveys.map(s => s.truthA.datBytes).sum / 1e6, "MB")) ++
      // the highest percentile with at least ten samples beyond it
      tailPct.map(p => (s"extract_ms_p$p", Util.percentile(extractMs.toSeq, p), "ms"))
  }

  def perLayer(spans: Map[String, Map[String, Double]]): Map[String, Double] = {
    def m(s: String, k: String) = spans.get(s).flatMap(_.get(k)).getOrElse(0.0)
    val route = spans.get("cspro.dat_route")
    Map(
      "cspro.dat_route.lines_per_s" ->
        route.map(r => r.getOrElse("lines", 0.0) / math.max(r("s"), 1e-9)).getOrElse(0.0),
      "load.table_write.files" -> m("load.table_write", "files"),
      "load.table_write.bytes" -> m("load.table_write", "bytes"),
      "query.extract.plan_ms" -> m("query.extract", "plan_ms"),
      "query.extract.files_pruned_ratio" -> Util.mean(prunedRatios.toSeq))
  }
}

object Dhs {
  val Spans: Seq[String] = Seq(
    "sources.organize", "cspro.dcf_parse", "catalog.reconcile", "load.ddl",
    "cspro.dat_route", "load.table_write", "load.slice_reload", "query.extract")
  val Extras: Seq[String] = Seq("cspro.dat_route.lines_per_s", "load.table_write.files",
    "load.table_write.bytes", "query.extract.plan_ms", "query.extract.files_pruned_ratio")
  val ReloadEvery = 3
  val ExtractionsPerOp = 8
  /** Four ingests and one re-delivery. */
  val MinOps = 5
  /** The loop stops here even if its minimum work is not done (checks then fail). */
  val HardCapS = 100.0
  val LabelTable = "value_labels"

  private def sumMaps(ms: Seq[Map[String, Long]]): Map[String, Long] =
    ms.flatten.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }

  /** Postgres-flavoured DDL from [[DdlManager]] → Derby: no `IF NOT
    * EXISTS` (the caller tracks existence) and `SET DATA TYPE` widening.
    */
  def derbyDialect(plan: DdlManager.DdlPlan): DdlManager.DdlPlan =
    DdlManager.DdlPlan(plan.statements.map(_
      .replace(" IF NOT EXISTS", "")
      .replaceAll("ALTER COLUMN (\"[^\"]+\") TYPE ", "ALTER COLUMN $1 SET DATA TYPE ")))

  /** Warehouse rows per (survey, record type) must equal the generator's:
    * a dropped survey, a duplicated re-delivery or a lost record type fails.
    */
  def checkRowCounts(actual: Map[(String, String), Long],
      truth: Map[(String, String), Long]): Seq[String] =
    (actual.keySet ++ truth.keySet).toSeq.sorted.flatMap { k =>
      val a = actual.getOrElse(k, 0L)
      val t = truth.getOrElse(k, 0L)
      if (a != t) Some(s"survey ${k._1} ${k._2}: $a rows in the warehouse, expected $t") else None
    }

  /** The routed DAT holds exactly the known record types and line count. */
  def checkUnknownTagsSkipped(spark: SparkSession, routedDir: String,
      records: Seq[String], knownLines: Long): Seq[String] = {
    val parts = Option(new File(routedDir).listFiles()).toSeq.flatten
      .flatMap(f => Option(f.listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("recordname=")).map(_.getName.stripPrefix("recordname="))
    val n = Option(new File(routedDir).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map(d => spark.read.text(d.getPath).count()).sum
    val bad = parts.filterNot(records.contains)
    (if (bad.nonEmpty) Seq(s"$routedDir: unknown record types routed: ${bad.mkString(",")}") else Nil) ++
      (if (n != knownLines) Seq(s"$routedDir: $n routed lines, expected $knownLines") else Nil)
  }

  /** The padded CASEID→HHID join must match every woman to one household. */
  def checkJoinCardinality(women: DataFrame, households: DataFrame, expected: Long): Seq[String] = {
    val n = RelationJoins.joinHousehold(
      women.select(col("caseid"), col("surveyid").as("sv")),
      households.select(col("hhid"), col("surveyid").as("hsv")))
      .filter(col("sv") === col("hsv")).count()
    if (n != expected) Seq(s"CASEID→HHID join gave $n rows, expected $expected") else Nil
  }
}
