package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession
import graft.dedup.Dedup

/** One benchmark run in one fresh JVM: set up, one first pass, warm
  * passes until `--seconds` have passed, then one JSON line on stdout.
  * `run.py` builds this, generates the inputs and launches it.
  *
  *   --workload mr_text|dedup
  *   --data DIR        the seed's generated corpus for the workload
  *   --out DIR         where passes write their outputs
  *   --seconds N       how long warm passes run
  *   --trace 0|1       1: per-layer metrics instead of end-to-end ones
  *   --trace-out FILE  where the traced run writes its spans
  *   --launch-ns N     wall clock (ns since the epoch) when the process
  *                     was launched, the start of `setup_s`
  */
object Main {
  private def nowEpochNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Heap in use after a full GC, the lowest of three readings: Spark's
    * context cleaner frees the blocks of finished queries' broadcasts and
    * shuffles on its own thread, only after a GC has found them
    * unreachable, so one GC alone reads them or not depending on timing.
    */
  private def usedHeapMb(): Double =
    (0 until 3).map { i =>
      if (i > 0) Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min

  final case class PassResult(wallS: Double, heapMb: Double, failed: Boolean,
      wrong: Boolean, layer: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchNs = opt("launch-ns").toLong
    val trace = opt("trace") == "1"
    val seconds = opt("seconds").toDouble

    // ---- set-up: session ready and the seed's inputs located ----
    val s0 = System.nanoTime()
    val spark = GraftSession.getOrCreate("perfbench")
    val sessionStartS = (System.nanoTime() - s0) / 1e9
    val out = Paths.get(opt("out"))
    val w = Workload(opt("workload"), Paths.get(opt("data")), out)
    val setupS = (nowEpochNs() - launchNs) / 1e9

    val sc = spark.sparkContext
    val slots = sc.defaultParallelism
    w.loadTruth()
    val tr = new Tracer(trace, () => org.apache.spark.scheduler.BenchProbe.jobsSubmitted(sc))
    val listener = if (trace) Some(new ExecListener(sc, w match {
      case m: MrText => Some(m.glob)
      case _ => None
    })) else None
    var selfTestMisses = Seq.empty[String]

    def runPass(i: Int): PassResult = {
      tr.pass = i
      val counts = scala.collection.mutable.Map.empty[String, Double]
      val before = listener.map(_.drain())
      val t0 = System.nanoTime()
      val handle =
        try Right(tr("pass")(w.pass(spark, tr, counts)))
        catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val exec = for (l <- listener; b <- before) yield l.drain() - b
      val (failed, wrong) = handle match {
        case Left(e) =>
          System.err.println(s"[perfbench] pass $i threw: $e")
          (true, false)
        case Right(collect) =>
          val out = collect()
          val errs = w.check(out)
          errs.foreach(e => System.err.println(s"[perfbench] pass $i check: $e"))
          if (i == 0 && errs.isEmpty)
            selfTestMisses = w.corruptions(out).collect {
              case (what, bad) if w.check(bad).isEmpty => what
            }
          (errs.nonEmpty, errs.nonEmpty)
      }
      // live heap: after a full GC, with the pass's pinned blocks still held
      val heap = usedHeapMb()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      val layer = exec.fold(Map.empty[String, Double]) { e =>
        val mb = 1e6
        val shared = Map(
          "exec.plan_s" -> tr.seconds(i, "exec.plan"),
          "exec.jobs" -> e.jobsStarted.toDouble,
          "exec.pin_jobs" -> e.pinJobs.toDouble,
          "exec.stages" -> e.stages.toDouble,
          "exec.tasks" -> e.tasks.toDouble,
          "exec.task_s" -> e.taskMs / 1e3,
          "exec.cpu_s" -> e.cpuNs / 1e9,
          "exec.gc_s" -> e.gcMs / 1e3,
          "exec.util" -> e.taskMs / 1e3 / (slots * wall),
          "exec.shuffle_write_mb" -> e.shuffleWriteBytes / mb,
          "exec.shuffle_read_mb" -> e.shuffleReadBytes / mb,
          "exec.spill_mb" -> e.spillBytes / mb)
        val own = w match {
          case _: MrText => Map(
            "mr.wc_s" -> tr.seconds(i, "mr.wc"),
            "mr.indexer_s" -> tr.seconds(i, "mr.indexer"),
            "mr.map_records" -> e.mapRecords.toDouble,
            "mr.shuffle_bytes_per_record" ->
              (if (e.mapRecords == 0) 0.0 else e.shuffleWriteBytes.toDouble / e.mapRecords),
            "sources.kvtext_read_s" -> tr.seconds(i, "sources.kvtext_read"))
          case _ => Map(
            "dedup.pairs_call_s" -> tr.seconds(i, "dedup.pairs_call"),
            "dedup.final_s" -> tr.seconds(i, "dedup.final"),
            "dedup.cc_call_s" -> tr.seconds(i, "dedup.cc_call"))
        }
        shared ++ own ++ counts
      }
      System.err.println(f"[perfbench] pass $i%d: $wall%.3f s, live heap $heap%.1f MB" +
        (if (failed) " FAILED" else ""))
      PassResult(wall, heap, failed, wrong, layer)
    }

    val passes = ArrayBuffer(runPass(0))
    val warmStart = System.nanoTime()
    while (passes.length < 2 || (System.nanoTime() - warmStart) / 1e9 < seconds)
      passes += runPass(passes.length)

    val warm = passes.toSeq.drop(1).filterNot(_.failed)
    val passS = median(warm.map(_.wallS))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("first_pass_s", passes.head.wallS, "s"),
        ("pass_s", passS, "s"),
        ("input_mb_per_s", w.inputMb / passS, "MB/s"),
        // after the first warm pass: the heap also keeps per-query state
        // that grows with every pass, so a fixed pass keeps the reading
        // independent of how many passes fit in the run
        ("live_heap_mb", passes(1).heapMb, "MB"))
      else traced(spark, w, warm, sessionStartS)

    listener.foreach { l =>
      l.close()
      writeTrace(Paths.get(opt("trace-out")), w, tr, l, passes.toSeq, metrics)
    }
    spark.stop()

    if (selfTestMisses.nonEmpty)
      System.err.println(s"[perfbench] check self-test: not detected: ${selfTestMisses.mkString(", ")}")
    val correct = !passes.exists(_.wrong) && selfTestMisses.isEmpty && warm.nonEmpty
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${passes.length}, """ +
      s""""failed": ${passes.count(_.failed)}, "metrics": {${body.mkString(", ")}}}""")
  }

  /** Per-layer metrics: medians over the warm passes, plus the counts and
    * timings that are measured once per run.
    */
  private def traced(spark: org.apache.spark.sql.SparkSession, w: Workload,
      warm: Seq[PassResult], sessionStartS: Double): Seq[(String, Double, String)] = {
    val perPass = warm.flatMap(_.layer.keys).distinct.map(k => k -> median(warm.map(_.layer(k)))).toMap
    val once = scala.collection.mutable.Map("session.start_s" -> sessionStartS)
    w match {
      case d: DedupWorkload =>
        val docs = d.docs(spark)
        // LSH candidates at nearDupPairs' own parameters (3-shingles,
        // 96 hashes, 32 bands): the base of dedup.candidate_yield
        val cand = Dedup.lshCandidatePairs(
          Dedup.minHashSignatures(docs, k = 3, numHashes = 96), bands = 32).count()
        once("dedup.candidate_pairs") = cand.toDouble
        once("dedup.candidate_yield") = perPass.getOrElse("dedup.pairs", 0.0) / math.max(cand, 1)
        once("functions.signature_s") = median((0 until 3).map { _ =>
          val t0 = System.nanoTime()
          Dedup.minHashSignatures(docs, k = 3, numHashes = 96)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        })
      case _ =>
    }
    val all = perPass ++ once
    PerLayer.metrics.map { case (n, unit) => (n, all.getOrElse(n, 0.0), unit) }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def writeTrace(path: Path, w: Workload, tr: Tracer, l: ExecListener, passes: Seq[PassResult],
      metrics: Seq[(String, Double, String)]): Unit = {
    val spans = tr.spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "pass": ${s.pass}, "name": ${str(s.name)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "first_job": ${s.firstJob}, """ +
        s""""jobs": ${s.jobs}}""")
    val sites = l.jobSites.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${str(v)}""" }
    val perPass = passes.zipWithIndex.map { case (p, i) =>
      val layer = p.layer.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }
      s"""{"pass": $i, "wall_s": ${num(p.wallS)}, "failed": ${p.failed}, """ +
        s""""layer": {${layer.mkString(", ")}}}"""
    }
    val ms = metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
    Files.createDirectories(path.getParent)
    Files.write(path, (s"""{"workload": ${str(w.name)},\n"metrics": {${ms.mkString(", ")}},\n""" +
      s""""job_call_sites": {${sites.mkString(", ")}},\n""" +
      s""""passes": [\n${perPass.mkString(",\n")}\n],\n"spans": [\n${spans.mkString(",\n")}\n]}\n""")
      .getBytes(UTF_8))
  }
}

/** The per-layer metrics every traced run prints, in BENCHMARK.json's
  * order. A layer a workload does not use reads 0.
  */
object PerLayer {
  val metrics: Seq[(String, String)] = Seq(
    "session.start_s" -> "s",
    "exec.plan_s" -> "s",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.pin_jobs" -> "count",
    "exec.task_s" -> "s",
    "exec.cpu_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.util" -> "ratio",
    "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "mr.wc_s" -> "s",
    "mr.indexer_s" -> "s",
    "mr.map_records" -> "count",
    "mr.reduce_keys" -> "count",
    "mr.shuffle_bytes_per_record" -> "B",
    "sources.kvtext_read_s" -> "s",
    "dedup.pairs_call_s" -> "s",
    "dedup.cc_call_s" -> "s",
    "dedup.cc_jobs" -> "count",
    "dedup.final_s" -> "s",
    "dedup.candidate_pairs" -> "count",
    "dedup.pairs" -> "count",
    "dedup.clusters" -> "count",
    "dedup.candidate_yield" -> "ratio",
    "functions.signature_s" -> "s")
}
