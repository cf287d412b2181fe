package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own tests: generators are deterministic in the seed, and
  * every output check rejects a planted defect.
  *
  * `perfbench.SelfTest --work <dir>`; prints one PASS/FAIL line per test and
  * exits non-zero when any fails.
  */
object SelfTest {

  private val results = mutable.ArrayBuffer.empty[(String, Boolean)]

  private def test(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case e: Exception => e.printStackTrace(); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    results += ((name, ok))
  }

  /** Relative path → bytes of every file below `dir`. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] =
    Util.filesUnder(dir, "").map(f =>
      f.getPath.stripPrefix(dir) -> Files.readAllBytes(f.toPath).toSeq).toMap

  private def deterministic(work: String, name: String)(gen: (Long, String) => Unit): Unit =
    test(s"$name: same seed gives byte-identical inputs, another seed does not") {
      gen(7L, s"$work/$name-a"); gen(7L, s"$work/$name-b"); gen(8L, s"$work/$name-c")
      val (a, b, c) = (snapshot(s"$work/$name-a"), snapshot(s"$work/$name-b"), snapshot(s"$work/$name-c"))
      a.nonEmpty && a == b && a != c
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    Util.deleteRecursively(new File(work))

    deterministic(work, "dhs")((seed, dir) => { DhsGen.generate(seed, dir, scale = 0.05); () })
    deterministic(work, "gate")((seed, dir) => {
      Gate.generate(seed, dir, baseDocs = 100, rounds = 2, docsPerFile = 20); ()
    })

    test("gate: a kept duplicate, an id kept twice or a suppressed fresh arrival is rejected") {
      val corpus = Gate.generate(3L, s"$work/gate-check", baseDocs = 100, rounds = 2, docsPerFile = 40)
      val landed = corpus.rounds.flatMap(_.flatMap(_.ids))
      val fresh = landed.filterNot(id => corpus.baseDuplicates.contains(id) ||
        corpus.arrivalCopies.contains(id) || corpus.sameFileCopies.contains(id)).sorted
      corpus.baseDuplicates.nonEmpty && corpus.arrivalCopies.nonEmpty &&
        Gate.checkKept(fresh, landed, corpus).isEmpty &&
        Gate.checkKept(fresh :+ corpus.baseDuplicates.keys.min, landed, corpus).nonEmpty &&
        Gate.checkKept(fresh :+ corpus.arrivalCopies.min, landed, corpus).nonEmpty &&
        Gate.checkKept(fresh :+ fresh.head, landed, corpus).nonEmpty &&
        Gate.checkKept(fresh.tail, landed, corpus).nonEmpty &&
        Gate.checkKept(Nil, landed, corpus).nonEmpty
    }

    val spark = graft.GraftSession.local(2)
    try dhsChecks(spark, s"$work/dhs-run")
    finally spark.stop()

    val failed = results.count(!_._2)
    println(s"${results.size - failed}/${results.size} self-tests passed")
    System.exit(if (failed == 0) 0 else 1)
  }

  /** A short real warehouse run passes its checks; dropping a survey's rows
    * or trimming the CASEID padding on disk then fails them.
    */
  private def dhsChecks(spark: SparkSession, dir: String): Unit = {
    val dhs = new Dhs(spark, 5L, new Tracer(spark), scale = 0.05)
    dhs.setup(dir, 0)
    dhs.run(0.0)
    test("dhs: a clean warehouse passes every check") {
      dhs.check().isEmpty && dhs.failed == 0
    }
    val wh = s"$dir/warehouse"
    def swap(table: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$dir/swap-$table"
      f(spark.read.parquet(s"$wh/$table")).write.partitionBy("surveyid").parquet(tmp)
      Util.deleteRecursively(new File(s"$wh/$table"))
      new File(tmp).renameTo(new File(s"$wh/$table"))
    }
    test("dhs: trimmed CASEIDs are rejected") {
      swap("REC01")(_.withColumn("caseid", trim(col("caseid"))))
      dhs.check().exists(_.contains("CASEID"))
    }
    test("dhs: a survey's dropped rows are rejected") {
      val survey = new File(s"$wh/REC21").listFiles().filter(_.getName.startsWith("surveyid=")).head
      Util.deleteRecursively(survey)
      dhs.check().exists(_.contains("rows in the warehouse"))
    }
  }
}
