package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup
import graft.mr.{MapReduce, MrApps}

/** One workload: a pass through the engine's public entry points, timed
  * as a whole, then an untimed collection of what the check needs.
  * `counts` takes the per-pass counts the traced run reports.
  */
sealed trait Workload {
  type Out
  def name: String
  /** Input text size, the base of `input_mb_per_s`. */
  def inputMb: Double
  /** Loads the generator's ground truth; not part of set-up time. */
  def loadTruth(): Unit
  /** The timed pass. Returns the untimed step that collects its output. */
  def pass(spark: SparkSession, tr: Tracer, counts: mutable.Map[String, Double]): () => Out
  def check(o: Out): Seq[String]
  /** Named corruptions of a correct output; the check must reject each. */
  def corruptions(o: Out): Seq[(String, Out)]
}

object Workload {
  def apply(name: String, data: Path, out: Path): Workload = name match {
    case "mr_text" => new MrText(data, out)
    case "dedup" => new DedupWorkload(data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[graftbench] def need(p: Path): Path = {
    require(Files.exists(p), s"missing input $p")
    p
  }
}

/** wc and indexer through `MapReduce.run`, each written with
  * `MapReduce.writeText` (10 reduce partitions) and read back through
  * the `kvtext` source.
  */
final class MrText(data: Path, out: Path) extends Workload {
  import Checks.MrOutput
  type Out = Map[String, MrOutput]

  val name = "mr_text"
  val nReduce = 10
  private val files = Files.list(data).iterator().asScala
    .filter(_.getFileName.toString.matches("pg-.*\\.txt")).toVector.sortBy(_.toString)
  require(files.nonEmpty, s"no pg-*.txt inputs in $data")
  /** The glob `wholeTextFiles` names its RDD after; marks the map stages. */
  val glob: String = data.resolve("pg-*.txt").toString
  val inputMb: Double = files.map(Files.size(_)).sum / 1e6
  private val outDir = Map("wc" -> out.resolve("wc"), "indexer" -> out.resolve("indexer"))
  private var truth = Map.empty[String, Map[String, String]]

  def loadTruth(): Unit = truth = Map(
    "wc" -> Checks.tsv(Workload.need(data.resolve("truth_wc.tsv"))).map(a => a(0) -> a(1)).toMap,
    "indexer" -> Checks.tsv(Workload.need(data.resolve("truth_ix.tsv"))).map(a => a(0) -> a(1)).toMap)

  def pass(spark: SparkSession, tr: Tracer, counts: mutable.Map[String, Double]): () => Out = {
    tr("mr.wc") {
      MapReduce.writeText(MapReduce.run(spark, glob, MrApps.wcMap, MrApps.wcReduce),
        outDir("wc").toString, nReduce)
    }
    tr("mr.indexer") {
      MapReduce.writeText(MapReduce.run(spark, glob, MrApps.indexerMap, MrApps.indexerReduce),
        outDir("indexer").toString, nReduce)
    }
    val back = tr("sources.kvtext_read") {
      outDir.map { case (app, dir) =>
        val df = spark.read.format("kvtext").load(dir.toString)
        tr("exec.plan")(df.queryExecution.executedPlan)
        app -> df.collect().toVector.map(r => (r.getString(0), r.getString(1)))
      }
    }
    counts("mr.reduce_keys") = back.values.map(_.length).sum.toDouble
    () => back.map { case (app, rows) =>
      val parts = Files.list(outDir(app)).iterator().asScala
        .filter { p => val n = p.getFileName.toString; !n.startsWith("_") && !n.startsWith(".") }
        .toVector.sortBy(_.toString).map(Checks.lines)
      app -> MrOutput(parts, rows)
    }
  }

  def check(o: Out): Seq[String] =
    Seq("wc", "indexer").flatMap(app => Checks.mrApp(app, o(app), truth(app), nReduce))

  def corruptions(o: Out): Seq[(String, Out)] = {
    // change one written line in a part and in the read-back alike, so
    // only the comparison with the ground truth can notice
    def edit(app: String, f: String => Option[String]): Out = {
      val out = o(app)
      val pi = out.parts.indexWhere(_.nonEmpty)
      val line = out.parts(pi).head
      val parts = out.parts.updated(pi, f(line).toVector ++ out.parts(pi).tail)
      val cut = line.lastIndexOf(' ')
      val i = out.readBack.indexOf((line.substring(0, cut), line.substring(cut + 1)))
      val back = out.readBack.patch(i, f(line).map { l =>
        val c = l.lastIndexOf(' '); (l.substring(0, c), l.substring(c + 1))
      }.toVector, 1)
      o.updated(app, MrOutput(parts, back))
    }
    Seq(
      "dropped word" -> edit("wc", _ => None),
      "count off by one" -> edit("wc", l => {
        val c = l.lastIndexOf(' '); Some(s"${l.substring(0, c)} ${l.substring(c + 1).toLong + 1}")
      }))
  }
}

/** `Dedup.nearDupPairs` at threshold 0.7, then `Dedup.dedupByClusters`
  * over its pairs, which runs `Dedup.connectedComponents` and keeps one
  * document per cluster. The traced run also calls `connectedComponents`
  * on the same pairs after each pass, outside the pass's time, to time
  * the rounds on their own and check the component labels.
  */
final class DedupWorkload(data: Path) extends Workload {
  import Checks.DedupOutput
  type Out = DedupOutput

  val name = "dedup"
  val threshold = 0.7
  /** `nearDupPairs` documents a per-pair miss probability of (1-j^3)^32
    * for its 32 bands of 3 rows: below 1e-10 at j >= 0.8. Planted pairs
    * at or above this Jaccard must all be found.
    */
  val recallFloor = 0.8
  private val docsPath = Workload.need(data.resolve("docs.tsv"))
  val inputMb: Double = Files.size(docsPath) / 1e6
  private var texts = Map.empty[Long, String]
  private var mustFind = Vector.empty[(Long, Long)]

  def loadTruth(): Unit = {
    texts = Checks.tsv(docsPath).map(a => a(0).toLong -> a(1)).toMap
    mustFind = Checks.tsv(Workload.need(data.resolve("planted.tsv")))
      .filter(_(2).toDouble >= recallFloor).map(a => (a(0).toLong, a(1).toLong))
  }

  def docs(spark: SparkSession): DataFrame =
    spark.read.schema("doc_id BIGINT, text STRING").option("sep", "\t").csv(docsPath.toString)

  def pass(spark: SparkSession, tr: Tracer, counts: mutable.Map[String, Double]): () => Out = {
    val d = docs(spark)
    val pairs = tr("dedup.pairs_call")(Dedup.nearDupPairs(d, threshold = threshold))
    val survivors = tr("dedup.final") {
      val kept = Dedup.dedupByClusters(d, pairs).select("doc_id")
      tr("exec.plan")(kept.queryExecution.executedPlan)
      kept.collect().toVector.map(_.getLong(0))
    }
    () => {
      val ps = pairs.collect().toVector.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      counts("dedup.pairs") = ps.length.toDouble
      val labels = if (!tr.on) None else {
        val jobs = org.apache.spark.scheduler.BenchProbe.jobsSubmitted(spark.sparkContext)
        val ls = tr("dedup.cc_call") {
          Dedup.connectedComponents(pairs).collect().toVector.map(r => (r.getLong(0), r.getLong(1)))
        }
        counts("dedup.cc_jobs") =
          org.apache.spark.scheduler.BenchProbe.jobsSubmitted(spark.sparkContext) - jobs
        counts("dedup.clusters") = ls.map(_._2).distinct.length.toDouble
        Some(ls)
      }
      DedupOutput(ps, labels, survivors)
    }
  }

  def check(o: Out): Seq[String] = Checks.dedup(o, texts, mustFind, threshold)

  def corruptions(o: Out): Seq[(String, Out)] = {
    val must = mustFind.toSet
    val dropAt = o.pairs.indexWhere(p => must.contains((p._1, p._2)))
    // keep a non-minimum member of a component, and label it as its own
    // cluster, as a split cluster would
    val loser = o.pairs.headOption.map(p => p._2)
    Seq(
      "missing pair" -> o.copy(pairs = o.pairs.patch(dropAt, Nil, 1)),
      "split cluster" -> loser.fold(o) { id =>
        o.copy(labels = o.labels.map(_.map(l => if (l._1 == id) (id, id) else l)),
          survivors = o.survivors :+ id)
      })
  }
}
