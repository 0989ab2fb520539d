package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Output checks made apart from the engine: they compare against the
  * generator's ground truth and recompute similarity and components in
  * plain Scala. Each returns the problems it found; empty means correct.
  */
object Checks {
  def lines(p: Path): Vector[String] = Files.readAllLines(p, UTF_8).asScala.toVector

  def tsv(p: Path): Vector[Array[String]] = lines(p).map(_.split("\t", -1))

  /** Byte order of the UTF-8 encodings: how Spark sorts strings. */
  val utf8Order: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  private def firstDiffs[K](want: Map[K, String], got: Map[K, String]): Seq[String] = {
    val missing = want.keysIterator.filterNot(got.contains).take(3).toSeq
    val extra = got.keysIterator.filterNot(want.contains).take(3).toSeq
    val wrong = want.iterator.filter { case (k, v) => got.get(k).exists(_ != v) }
      .take(3).map { case (k, v) => s"$k: want '$v' got '${got(k)}'" }.toSeq
    missing.map(k => s"missing key $k") ++ extra.map(k => s"unexpected key $k") ++
      wrong.map(w => s"wrong value $w")
  }

  // ---------- mr_text ----------

  /** One app's output: the lines of each written part file, and the rows
    * read back through `kvtext`.
    */
  final case class MrOutput(parts: Vector[Vector[String]], readBack: Vector[(String, String)])

  /** `truth` maps each word to the value line the app must write for it. */
  def mrApp(app: String, out: MrOutput, truth: Map[String, String], nReduce: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (out.parts.length != nReduce)
      errs += s"$app: ${out.parts.length} part files, want $nReduce"
    val keyed = out.parts.map(_.map { l =>
      val cut = l.indexOf(' ')
      if (cut < 0) (l, "") else (l.substring(0, cut), l.substring(cut + 1))
    })
    keyed.zipWithIndex.foreach { case (part, i) =>
      if (part.iterator.map(_._1).sliding(2).exists { case Seq(a, b) => utf8Order.gt(a, b); case _ => false })
        errs += s"$app: part $i is not sorted by key"
    }
    val partOf = keyed.zipWithIndex.flatMap { case (p, i) => p.map(kv => (kv._1, i)) }
    val split = partOf.groupBy(_._1).collect { case (k, ps) if ps.map(_._2).distinct.size > 1 => k }
    if (split.nonEmpty) errs += s"$app: keys in two parts: ${split.take(3).mkString(", ")}"
    val written = keyed.flatten
    if (written.map(_._1).distinct.length != written.length)
      errs += s"$app: a key is written twice"
    errs ++= firstDiffs(truth, written.toMap).map(d => s"$app: $d")
    val back = out.readBack.map { case (k, v) => if (v.isEmpty) k else s"$k $v" }.sorted
    if (back != out.parts.flatten.sorted)
      errs += s"$app: kvtext read-back (${back.length} rows) differs from the " +
        s"${out.parts.flatten.length} lines written"
    errs.result()
  }

  // ---------- dedup ----------

  /** Distinct 3-token shingles of single-space-separated text; a text
    * under three tokens is one shingle.
    */
  def shingles(text: String): Set[String] = {
    val t = text.split(" ").filter(_.nonEmpty)
    if (t.length < 3) Set(t.mkString(" "))
    else t.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Jaccard rounded to 4 places, half up, as the engine reports it. */
  def jaccard4(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val j = inter.toDouble / (a.size + b.size - inter)
    BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** `labels` are `connectedComponents`' (id, cluster) rows, when the run
    * called it on its own.
    */
  final case class DedupOutput(
      pairs: Vector[(Long, Long, Double)],
      labels: Option[Vector[(Long, Long)]],
      survivors: Vector[Long])

  /** Minimum id of each node's component, by union-find over `edges`. */
  def componentMins(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toVector.map(x => x -> find(x)).toMap
  }

  /** @param texts       every document, by id
    * @param mustFind    planted pairs whose Jaccard clears the recall budget
    */
  def dedup(out: DedupOutput, texts: Map[Long, String], mustFind: Seq[(Long, Long)],
      threshold: Double): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val shingleCache = scala.collection.mutable.HashMap.empty[Long, Set[String]]
    def sh(id: Long) = shingleCache.getOrElseUpdate(id, shingles(texts(id)))
    val keys = out.pairs.map(p => (p._1, p._2))
    if (keys.distinct.length != keys.length) errs += "a pair is reported twice"
    out.pairs.iterator.filter(p => !(p._1 < p._2) || !texts.contains(p._1) || !texts.contains(p._2))
      .take(3).foreach(p => errs += s"malformed pair $p")
    out.pairs.iterator.filter(p => p._1 < p._2 && texts.contains(p._1) && texts.contains(p._2))
      .flatMap { case (a, b, j) =>
        val exact = jaccard4(sh(a), sh(b))
        if (exact != j) Some(s"pair ($a,$b) reports $j, recomputed $exact")
        else if (exact < threshold) Some(s"pair ($a,$b) has Jaccard $exact < $threshold")
        else None
      }.take(3).foreach(errs += _)
    val reported = keys.toSet
    val missed = mustFind.filterNot(reported.contains)
    if (missed.nonEmpty)
      errs += s"${missed.length} planted pairs above the recall budget not reported, " +
        s"e.g. ${missed.take(3).mkString(", ")}"
    val mins = componentMins(keys)
    out.labels.foreach { labels =>
      errs ++= firstDiffs(mins.map { case (k, v) => k -> v.toString },
        labels.map { case (k, v) => k -> v.toString }.toMap).map(d => s"components: $d")
      if (labels.map(_._1).distinct.length != labels.length)
        errs += "components: an id is labelled twice"
    }
    val want = texts.keySet.filter(id => mins.getOrElse(id, id) == id)
    val got = out.survivors.toSet
    if (got.size != out.survivors.length) errs += "survivors: an id is kept twice"
    if (got != want)
      errs += s"survivors: ${(want -- got).size} missing, ${(got -- want).size} unexpected"
    errs.result()
  }
}
