package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import graft.operators.{Dedup, Similarity, VersionedIvf, VersionedNearDup, VersionedSubstring}
import graft.streaming.ComposedGate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `gate_stream`: the three-stage ingest gate as a stream.
  *
  * Set-up builds the substring, near-duplicate and IVF indexes over a
  * seeded base corpus. Arrival files (text + embedding) land in rounds; each
  * round drains `ComposedGate.stream3` (AvailableNow, one file per
  * micro-batch, one checkpoint for the whole run, so each batch starts after
  * the previous one commits), then runs index maintenance: a retention
  * delete of expiring base documents plus compaction of all three indexes
  * and vacuum of superseded generations.
  */
final class Gate(spark: SparkSession, seed: Long, val tr: Tracer, stateDir: String) extends Workload {
  import Gate._

  private var dir: String = _
  private var corpus: GateCorpus = _
  private def idx(name: String) = s"$dir/$name"
  private var baseIndexBytes = 0L

  private var ops = 0L
  private var fails = 0L
  private var rounds = 0
  private val batchS = mutable.ArrayBuffer.empty[Double]
  private val roundS = mutable.ArrayBuffer.empty[Double]
  private var arrivalBytes = 0L
  private var arrivals = 0L

  /** One small round against a copy of the first set-up's indexes. */
  def warmup(d: String): Unit = {
    val saved = (dir, corpus)
    Seq("substr", "neardup", "ivf").foreach(n => copyTree(new File(idx(n)), new File(s"$d/$n")))
    dir = d
    corpus = generate(seed, s"$d/inputs", baseDocs = 100, rounds = 1, filesPerRound = 1, docsPerFile = 20)
    run(0.0)
    ops = 0
    dir = saved._1; corpus = saved._2
  }

  private def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).toSeq.flatten.foreach(c => copyTree(c, new File(dst, c.getName)))
    } else Files.copy(src.toPath, dst.toPath, StandardCopyOption.COPY_ATTRIBUTES)

  def setup(d: String, rep: Int): Unit = {
    dir = d
    corpus = generate(seed, s"$d/inputs")
    buildIndexes(corpus.basePath)
    baseIndexBytes = indexBytes()
  }

  private def buildIndexes(basePath: String): Unit = {
    val base = spark.read.schema(Schema).json(basePath)
    Dedup.writeSubstringIndex(base.select("doc_id", "text"), "text", "doc_id", idx("substr"), n = SubstrN)
    val cleaned = Dedup.substringClean(base.select("doc_id", "text"), "text", "doc_id", n = SubstrN)
      .select(col("doc").as("doc_id"), col("cleaned_text").as("text"))
    Dedup.writeNearDupIndex(cleaned, "text", "doc_id", idx("neardup"),
      shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
    val emb = base.select("doc_id", "embedding")
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", "doc_id", k = Blobs, iterations = 5)
    Similarity.writeIvfIndex(emb, "embedding", "doc_id", centroids, idx("ivf"))
  }

  private def indexBytes(): Long = Seq("substr", "neardup", "ivf").map(n => Util.dirBytes(idx(n))).sum
  private def keptBytes(): Long = Seq("clean", "textkept", "kept").map(n => Util.dirBytes(idx(n))).sum

  def run(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    rounds = 0; batchS.clear(); roundS.clear(); arrivalBytes = 0L; arrivals = 0L
    val landing = Util.mkdirs(idx("landing"))
    while (rounds < corpus.rounds.size && elapsed < HardCapS && (rounds < MinRounds || elapsed < seconds)) {
      val files = corpus.rounds(rounds)
      ops += 1
      try {
        // land the round's files, oldest first (the file source orders by mtime)
        files.zipWithIndex.foreach { case (f, i) =>
          val dst = new File(landing, new File(f.path).getName).toPath
          Files.copy(new File(f.path).toPath, dst, StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + (rounds * 100L + i) * 1000L))
        }
        val (_, t) = Util.time {
          val q = tr.span(Tracer.Drain) {
            val q = ComposedGate.stream3(
              spark.readStream.schema(Schema).option("maxFilesPerTrigger", 1).json(landing),
              "text", "embedding", "doc_id", idx("substr"), idx("neardup"), idx("ivf"),
              idx("clean"), idx("textkept"), idx("kept"), idx("checkpoint"),
              threshold = SemThreshold, nprobe = 2)
            q.awaitTermination()
            q
          }
          val batches = q.recentProgress.filter(_.numInputRows > 0)
            .map(p => p.durationMs.get("triggerExecution").longValue / 1000.0)
          batchS ++= batches
          val (_, m) = Util.time(tr.span("operators.index_maintenance")(maintain(corpus.expiring(rounds))))
          System.err.println(s"[perfbench] gate round $rounds: batches ${batches.mkString(" ")} s, maintenance " +
            f"$m%.2f s")
        }
        roundS += t
        arrivalBytes += files.map(_.bytes).sum
        arrivals += files.map(_.ids.size).sum
      } catch { case e: Exception =>
        fails += 1
        System.err.println(s"[perfbench] gate round $rounds failed: $e")
        e.printStackTrace()
      }
      rounds += 1
    }
  }

  /** Retention delete + compaction + vacuum, through the public verbs. */
  private def maintain(expiring: Seq[Long]): Unit = {
    import spark.implicits._
    val ckpt = Some(idx("checkpoint"))
    val ids = expiring.toDF("doc_id")
    Dedup.deleteFromNearDupIndex(ids, "doc_id", idx("neardup"))
    Similarity.deleteFromIvfIndex(spark, idx("ivf"), ids, "doc_id")
    Dedup.compactNearDupIndex(spark, idx("neardup"), checkpointDir = ckpt)
    Similarity.consolidateIvfIndex(spark, idx("ivf"), checkpointDir = ckpt)
    VersionedSubstring.consolidate(spark, idx("substr"), checkpointDir = ckpt)
    VersionedNearDup.vacuum(spark, idx("neardup"), ttlMs = 0L)
    VersionedIvf.vacuum(spark, idx("ivf"), ttlMs = 0L)
    VersionedSubstring.vacuum(spark, idx("substr"), ttlMs = 0L)
  }

  private def keptIds(sub: String): Seq[Long] = {
    val p = idx(sub)
    if (!new File(p).exists()) Nil
    else spark.read.parquet(p).select("doc_id").collect().map(_.getLong(0)).toSeq
  }

  def check(): Seq[String] = {
    val kept = keptIds("kept")
    val landed = corpus.rounds.take(rounds).flatMap(_.flatMap(_.ids))
    val out = Gate.checkKept(kept, landed, corpus) ++
      (if (rounds < MinRounds) Seq(s"only $rounds rounds ran") else Nil)
    val hash = Util.fnv(kept.sorted.map(_.toString))
    out ++ Util.compareHash(stateDir, s"gate_stream-$seed-rounds$rounds", hash)
  }

  def attempted: Long = ops
  def failed: Long = fails

  def endToEnd(): Seq[(String, Double, String)] = Seq(
    ("records_per_s", arrivals / math.max(roundS.sum, 1e-9), "1/s"),
    ("op_s_p50", Util.median(batchS.toSeq), "s"),
    ("stored_bytes_per_input_byte",
      (indexBytes() - baseIndexBytes + keptBytes()).toDouble / math.max(arrivalBytes, 1L), "ratio"))

  def summary(): Seq[(String, Double, String)] = Seq(
    ("gate_mb_per_s", arrivalBytes / 1e6 / math.max(roundS.sum, 1e-9), "MB/s"),
    ("input_mb", (new File(corpus.basePath).length + corpus.rounds.flatten.map(_.bytes).sum) / 1e6, "MB"),
    ("gate_batch_s_p50", Util.median(batchS.toSeq), "s"),
    ("rounds", rounds.toDouble, "count"),
    ("batches", batchS.size.toDouble, "count"))

  def perLayer(spans: Map[String, Map[String, Double]]): Map[String, Double] = {
    val textKept = keptIds("textkept").size.toDouble
    val kept = keptIds("kept").size.toDouble
    val liveDocs = Dedup.nearDupIndexManifest(spark, idx("neardup")).count().toDouble
    Map(
      "streaming.batch.query_planning_ms" -> m(spans, "query_planning_ms"),
      "streaming.batch.wal_commit_ms" -> m(spans, "wal_commit_ms"),
      "streaming.batch.add_batch_ms" -> m(spans, "add_batch_ms"),
      "streaming.batch.commit_offsets_ms" -> m(spans, "commit_offsets_ms"),
      "operators.gate.text_suppressed_per_arrival" -> (1.0 - textKept / math.max(arrivals, 1L)),
      "operators.gate.semantic_suppressed_per_survivor" -> (1.0 - kept / math.max(textKept, 1.0)),
      "operators.index.bytes_per_doc" -> indexBytes() / math.max(liveDocs, 1.0))
  }

  private def m(spans: Map[String, Map[String, Double]], k: String): Double =
    spans.get(Tracer.StreamingBatch).flatMap(_.get(k)).getOrElse(0.0)
}

final case class ArrivalFile(path: String, bytes: Long, ids: Seq[Long])

/** `baseDuplicates`: planted copies of base documents (id → kind);
  * `arrivalCopies`: near copies of arrivals in earlier files;
  * `sameFileCopies`: near copies of an arrival earlier in the same file,
  * which reach the gate in the same micro-batch as their source. Every
  * other arrival is fresh text with a fresh embedding.
  */
final case class GateCorpus(basePath: String, rounds: Seq[Seq[ArrivalFile]],
    expiring: Int => Seq[Long], baseDuplicates: Map[Long, String],
    arrivalCopies: Set[Long], sameFileCopies: Set[Long])

object Gate {
  val Spans: Seq[String] = Seq(Tracer.StreamingBatch, "operators.index_maintenance")
  val Extras: Seq[String] = Seq("streaming.batch.query_planning_ms", "streaming.batch.wal_commit_ms",
    "streaming.batch.add_batch_ms", "streaming.batch.commit_offsets_ms",
    "operators.gate.text_suppressed_per_arrival", "operators.gate.semantic_suppressed_per_survivor",
    "operators.index.bytes_per_doc")
  val BaseDocs = 1000
  val Rounds = 6
  val FilesPerRound = 3
  val DocsPerFile = 60
  val MinRounds = 1
  val Blobs = 8
  val HardCapS = 100.0
  val Dim = 32
  val SubstrN = 8
  val SemThreshold = 0.9
  val Schema = "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>"

  /** Base corpus plus `Rounds` rounds of arrival files. Every file holds
    * the same shares, shuffled: 55% fresh, 12% text copies and 13% text
    * near copies of retained base documents (each with a near embedding),
    * 10% semantic-only copies of base documents (fresh text, near
    * embedding) and 10% near copies of earlier arrivals (fresh ones when a
    * file has no earlier arrival). A tenth of the base is "expiring": never
    * copied, and deleted a slice per round.
    */
  def generate(seed: Long, dir: String, baseDocs: Int = BaseDocs, rounds: Int = Rounds,
      filesPerRound: Int = FilesPerRound, docsPerFile: Int = DocsPerFile): GateCorpus = {
    val rnd = new Random(seed)
    // embeddings cluster by topic: 0.75 × a blob centre + 0.66 × a random
    // unit vector. Distinct documents of one blob stay near cosine 0.56
    // (well below the gate threshold), while every vector is far nearer its
    // own centre than any other, so a near copy probes its source's cluster
    val centres = Vector.fill(Blobs)(TextGen.unitVector(rnd, Dim))
    def embedding(): Vector[Float] = {
      val c = centres(rnd.nextInt(Blobs))
      val g = TextGen.unitVector(rnd, Dim)
      TextGen.near(rnd, c.zip(g).map { case (a, b) => 0.75f * a + 0.66f * b }, 0.0)
    }
    val base = TextGen.lengths(rnd, baseDocs).zipWithIndex.map { case (len, i) =>
      (i.toLong, TextGen.doc(rnd, len), embedding())
    }
    val basePath = s"$dir/base.jsonl"
    TextGen.writeJsonl(basePath, base.map { case (id, t, e) => (id, t.mkString(" "), Some(e)) })
    val expiringIds = base.map(_._1).filter(_ % 10 == 9)
    val retained = base.filter(_._1 % 10 != 9).toIndexedSeq
    val baseDups = mutable.Map.empty[Long, String]
    val copies = mutable.Set.empty[Long]
    val sameFile = mutable.Set.empty[Long]
    val earlier = mutable.ArrayBuffer.empty[(Vector[String], Vector[Float], (Int, Int))]
    var next = 1000000L
    val files = (0 until rounds).map { r =>
      (0 until filesPerRound).map { f =>
        val kinds = rnd.shuffle((0 until docsPerFile).map(i => i * 100 / docsPerFile))
        val lens = TextGen.lengths(rnd, docsPerFile)
        val docs = kinds.zip(lens).map { case (kind, len) =>
          next += 1
          kind match {
            case k if k < 25 =>
              val (_, t, e) = retained(rnd.nextInt(retained.size))
              baseDups(next) = if (k < 12) "text copy" else "text near copy"
              (next, if (k < 12) t else TextGen.perturb(rnd, t, 0.03), TextGen.near(rnd, e, 0.02))
            case k if k < 35 =>
              val (_, _, e) = retained(rnd.nextInt(retained.size))
              baseDups(next) = "embedding near copy"
              (next, TextGen.doc(rnd, len), TextGen.near(rnd, e, 0.02))
            case k if k < 45 && earlier.nonEmpty =>
              val (t, e, from) = earlier(rnd.nextInt(earlier.size))
              (if (from == ((r, f))) sameFile else copies) += next
              (next, TextGen.perturb(rnd, t, 0.03), TextGen.near(rnd, e, 0.02))
            case _ =>
              val t = TextGen.doc(rnd, len)
              val e = embedding()
              earlier += ((t, e, (r, f)))
              (next, t, e)
          }
        }
        val path = f"$dir/arrivals/r$r%02d_f$f.jsonl"
        val bytes = TextGen.writeJsonl(path, docs.map { case (id, t, e) => (id, t.mkString(" "), Some(e)) })
        ArrivalFile(path, bytes, docs.map(_._1))
      }
    }
    val perRound = math.max(1, expiringIds.size / rounds)
    GateCorpus(basePath, files, r => expiringIds.slice(r * perRound, (r + 1) * perRound),
      baseDups.toMap, copies.toSet, sameFile.toSet)
  }

  /** No id kept twice, nothing kept that did not land, no planted
    * duplicate kept (of the base corpus or of an arrival in an earlier
    * file), and every fresh arrival kept, so a gate that drops too much
    * fails as surely as one that drops too little. A near copy of an arrival
    * in its own micro-batch may go either way; the kept-set hash pins it.
    */
  def checkKept(kept: Seq[Long], landed: Seq[Long], corpus: GateCorpus): Seq[String] = {
    val twice = kept.groupBy(identity).collect { case (id, xs) if xs.size > 1 => id }
    val landedSet = landed.toSet
    val stray = kept.filterNot(landedSet.contains)
    val dups = kept.filter(corpus.baseDuplicates.contains).sorted
    val copies = kept.filter(corpus.arrivalCopies.contains).sorted
    val keptSet = kept.toSet
    val lost = landed.filterNot(id => corpus.baseDuplicates.contains(id) ||
      corpus.arrivalCopies.contains(id) || corpus.sameFileCopies.contains(id) ||
      keptSet.contains(id)).sorted
    (if (twice.nonEmpty) Seq(s"${twice.size} ids kept twice, e.g. ${twice.head}") else Nil) ++
      (if (stray.nonEmpty) Seq(s"${stray.size} kept ids never arrived, e.g. ${stray.head}") else Nil) ++
      (if (dups.nonEmpty) Seq(s"${dups.size} planted duplicates of the base corpus kept, e.g. " +
        dups.take(3).map(d => s"$d (${corpus.baseDuplicates(d)})").mkString(", ")) else Nil) ++
      (if (copies.nonEmpty) Seq(s"${copies.size} near copies of arrivals in earlier files kept, e.g. " +
        copies.take(3).mkString(", ")) else Nil) ++
      (if (lost.nonEmpty) Seq(s"${lost.size} of ${landed.size} arrivals were fresh but suppressed, e.g. " +
        lost.take(3).mkString(", ")) else Nil)
  }
}
