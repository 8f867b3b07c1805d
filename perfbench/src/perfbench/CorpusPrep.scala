package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.text.{Dedup, Packing, Sampling, TextOps}

/** The corpus-prep pipeline with near-duplicate clustering: exact dedup →
  * MinHash-LSH candidate pairs → connected components (keep the minimum
  * id per cluster) → quality floor 0.5 → language-balanced sample →
  * sequence packing (budget 512). No `ohlcv` code runs here.
  *
  * Every pass reads a corpus of its own (pass n: seed·1000 + n), so
  * nothing the program keeps from an earlier pass can serve a later one,
  * and a run's median spans several corpora.
  */
final class CorpusPrep(seed: Long, docs: Int, clusters: Int, clusterSize: Int,
    recallFloor: Double) extends Workload {
  val name = "corpus_prep"
  val Budget = 512L
  private val Schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("text", StringType)))
  private val SubwordRe = "[A-Za-z0-9]{1,4}|[^A-Za-z0-9\\s]".r

  private var spark: SparkSession = _
  private var dir: File = _
  private var input: String = _
  private var corpus: Array[Doc] = _
  /** Smallest id per normalized text: the document exact dedup must keep. */
  private var rep: Array[Long] = _
  /** Planted near-duplicate pairs over representatives. */
  private var planted: Set[(Long, Long)] = Set.empty
  private var passNo = 0

  def generate(d: File): Unit = {
    dir = d
    load(1)
  }

  /** Write pass `n`'s corpus and keep what was planted in it. */
  private def load(n: Int): Unit = {
    corpus = DocGen.generate(seed * 1000 + n, docs, clusters, clusterSize)
    val in = new File(dir, s"docs-$n")
    DocGen.writeJsonl(corpus, in, 4)
    input = in.getPath
    val first = mutable.HashMap.empty[String, Long]
    rep = corpus.map(d => first.getOrElseUpdate(normalize(d.text), d.id))
    planted = corpus.filter(_.cluster >= 0).groupBy(_.cluster).values.flatMap { members =>
      val reps = members.map(d => rep(d.id.toInt)).distinct.sorted
      for (i <- reps.indices; j <- i + 1 until reps.length) yield (reps(i), reps(j))
    }.toSet
  }

  private def normalize(t: String): String = t.replaceAll("\\s+", " ").trim.toLowerCase

  override def setup(s: SparkSession): Unit = spark = s

  def pass(tr: Tracer, check: Boolean): Pass = {
    passNo += 1
    if (passNo > 1) load(passNo) // not timed
    val rounds = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val deduped = tr.cut("exact") {
      Dedup.exact(spark.read.schema(Schema).json(input), "doc_id", "text")
    }
    val pairs = tr.cut("minhash")(Dedup.minhashLshPairs(deduped, "doc_id", "text"))
    val labels = tr.act("cc")(Dedup.connectedComponents(pairs, roundsOut = rounds))
    val survivors = tr.cut("cc") {
      deduped.join(labels, deduped("doc_id") === labels("id"), "left")
        .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
        .drop("id", "cluster")
    }
    val qual = tr.cut("quality") {
      TextOps.qualityScore(survivors, "text").filter(col("quality_score") >= 0.5)
    }
    val sampled = tr.cut("sample")(Sampling.balancedSample(qual, "doc_id", "lang", salt = "mix"))
    val packed = tr.act("pack") {
      Packing.packSequences(sampled, "doc_id", TextOps.subwordCount(col("text")), Budget)
        .collect()
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    tr.addRows("pack", packed.length)
    tr.noteExtra("cc.rounds", rounds.get)
    tr.noteExtra("cc.distributed", if (rounds.get > 1) 1 else 0)

    val labelRows = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cand = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    if (tr.enabled)
      tr.noteExtra("minhash.precision", cand.count(planted.contains).toDouble / math.max(1, cand.length))
    val recall = planted.count { case (a, b) =>
      labelRows.getOrElse(a, a) == labelRows.getOrElse(b, b)
    }.toDouble / math.max(1, planted.size)
    // Every pass checks the documents that reach the packed output; the
    // first also re-reads the full survivor set.
    val failures = if (!check) Nil else Workload.checking {
      val ids =
        if (passNo == 1) survivors.select("doc_id").collect().map(_.getLong(0))
        else packed.map(_.getLong(0))
      checkSurvivors(ids) ++ checkPacking(packed) ++ checkClusters(cand, labelRows) ++
        (if (recall < recallFloor) Seq(f"dedup_recall $recall%.4f below the floor $recallFloor") else Nil)
    }
    Pass(Seq(Op("prep", seconds, failures)),
      Map("dedup_recall" -> recall, "cc_rounds" -> rounds.get.toDouble))
  }

  /** The labels equal a plain-Scala union-find over the candidate pairs:
    * the same set of ids, each labelled with its component's smallest id.
    */
  private def checkClusters(pairs: Array[(Long, Long)], labels: Map[Long, Long]): Seq[String] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    val wrong = want.count { case (k, c) => !labels.get(k).contains(c) }
    val extra = (labels.keySet -- want.keySet).size
    if (pairs.isEmpty) Seq("near-dup detection returned no candidate pairs")
    else if (wrong + extra > 0)
      Seq(s"cluster labels: $wrong of ${want.size} ids mislabelled or missing, $extra unexpected ids")
    else Nil
  }

  /** No two survivors share a normalized text, and each is the smallest id
    * of its text.
    */
  private def checkSurvivors(ids: Array[Long]): Seq[String] = {
    val texts = ids.map(i => normalize(corpus(i.toInt).text))
    val dupTexts = texts.length - texts.distinct.length
    val notFirst = ids.count(i => rep(i.toInt) != i)
    (if (dupTexts > 0) Seq(s"$dupTexts survivors share a fingerprint") else Nil) ++
      (if (notFirst > 0) Seq(s"$notFirst survivors are not the smallest id of their text") else Nil)
  }

  /** Packing offsets are contiguous in id order, below the budget, and
    * count the same subword tokens as a plain-Scala count of each text.
    */
  private def checkPacking(rows: Array[org.apache.spark.sql.Row]): Seq[String] = {
    val sorted = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    if (sorted.isEmpty) return Seq("packing returned no rows")
    var cum = 0L
    val fails = mutable.ArrayBuffer.empty[String]
    sorted.foreach { case (id, n, batch, offset) =>
      val want = SubwordRe.findAllMatchIn(corpus(id.toInt).text).length.toLong
      if (n != want && fails.length < 5) fails += s"doc $id: $n tokens, want $want"
      if ((batch * Budget + offset != cum || offset < 0 || offset >= Budget) && fails.length < 5)
        fails += s"doc $id: batch $batch offset $offset, want position $cum"
      cum += n
    }
    fails.toSeq
  }

  override def summary(passes: Seq[Pass]): Seq[(String, Double, String)] =
    Seq(("dedup_recall", Workload.median(passes.flatMap(_.quality.get("dedup_recall"))), "ratio"),
      ("cc_rounds", Workload.median(passes.flatMap(_.quality.get("cc_rounds"))), "count"))
}
