package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain

/** Per-layer metric names and units, in the order `BENCHMARK.json` lists
  * them. */
object Metrics {
  val Layers: Seq[String] = Seq(
    "Readers.csv", "Readers.fresco", "Readers.accounting",
    "MetricTransforms.block", "MetricTransforms.cpu", "MetricTransforms.llite", "MetricTransforms.mem",
    "Pipeline.writeDaily", "IntervalJoin", "BucketAggregate", "Finalize", "Compactor",
    "Pipeline.curate",
    "Dedup.index.build", "Dedup.index.filter", "Dedup.index.append", "Dedup.index.delete",
    "Dedup.index.compact",
    "LanguageModel.train", "LanguageModel.score",
    "TextIndex.build", "TextIndex.append", "TextIndex.compact", "TextIndex.search")

  /** Layers whose plans can shuffle; of those, the ones most likely to
    * spill; layers that write committed output; and the writers whose file
    * count an optimization could change. */
  val Shuffling: Set[String] = Layers.toSet -- Set("Readers.csv", "Readers.fresco",
    "Readers.accounting", "MetricTransforms.mem", "Finalize", "Compactor", "Dedup.index.delete")
  val Spilling: Seq[String] = Seq("MetricTransforms.cpu", "Pipeline.writeDaily", "BucketAggregate",
    "Pipeline.curate", "Dedup.index.compact", "TextIndex.compact")
  val Writing: Seq[String] = Seq("Pipeline.writeDaily", "BucketAggregate", "Finalize", "Compactor",
    "Pipeline.curate", "Dedup.index.build", "Dedup.index.append", "Dedup.index.compact",
    "LanguageModel.train", "TextIndex.build", "TextIndex.append", "TextIndex.compact")
  val FileCounted: Seq[String] = Seq("Pipeline.writeDaily", "Compactor", "Dedup.index.append",
    "Dedup.index.compact", "TextIndex.append", "TextIndex.compact")
  val Extras: Seq[(String, String)] = Seq(
    "MetricTransforms.block.keep_ratio" -> "ratio", "MetricTransforms.cpu.keep_ratio" -> "ratio",
    "MetricTransforms.llite.keep_ratio" -> "ratio", "MetricTransforms.mem.keep_ratio" -> "ratio",
    "IntervalJoin.match_ratio" -> "ratio", "Dedup.index.filter.keep_ratio" -> "ratio",
    "Compactor.drain_s" -> "s", "Compactor.commit_log_files" -> "count")
  val RunWide: Seq[(String, String)] = Seq(
    "spill_bytes" -> "bytes", "gc_s" -> "s", "tracing_overhead_s" -> "s", "unattributed_s" -> "s")

  /** Every per-layer metric, with a function reading it from a layer map. */
  val PerLayer: Seq[(String, String, Map[String, LayerStat] => Double)] = {
    def st(m: Map[String, LayerStat], l: String) = m.getOrElse(l, LayerStat())
    Layers.flatMap(l => Seq(
      (s"$l.wall_s", "s", (m: Map[String, LayerStat]) => st(m, l).wallNs / 1e9),
      (s"$l.cpu_s", "s", (m: Map[String, LayerStat]) => st(m, l).res.cpuNs / 1e9),
      (s"$l.rows_out", "count", (m: Map[String, LayerStat]) => st(m, l).rows.toDouble))) ++
      Layers.filter(Shuffling).map(l =>
        (s"$l.shuffle_bytes", "bytes", (m: Map[String, LayerStat]) => st(m, l).res.shuffleBytes.toDouble)) ++
      Spilling.map(l =>
        (s"$l.spill_bytes", "bytes", (m: Map[String, LayerStat]) => st(m, l).res.spillBytes.toDouble)) ++
      Writing.map(l =>
        (s"$l.bytes_written", "bytes", (m: Map[String, LayerStat]) => st(m, l).res.bytesWritten.toDouble)) ++
      FileCounted.map(l =>
        (s"$l.files_written", "count", (m: Map[String, LayerStat]) => st(m, l).files.toDouble))
  }

  def perLayerUnits: Seq[(String, String)] = PerLayer.map(p => p._1 -> p._2) ++ Extras ++ RunWide
}

/** One benchmark run: set up, one cold iteration, warm iterations until
  * their timed seconds reach `--seconds` (with `--trace 1`, half untraced
  * and half traced), output checks, and one JSON result line on stdout. */
object BenchMain {

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val wl = Workloads.byName(arg(args, "--workload").getOrElse(""))
      .getOrElse { System.err.println(s"unknown workload; one of ${Workloads.all.map(_.name).mkString(", ")}"); sys.exit(2) }
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required"))).toAbsolutePath
    val launchMs = arg(args, "--launch-ms").map(_.toLong).getOrElse(
      ManagementFactory.getRuntimeMXBean.getStartTime)
    val cores = arg(args, "--cores").getOrElse("4")
    val code = run(wl, seed, seconds, trace, work, launchMs, cores)
    System.out.flush()
    // the result is out and every job has finished; skip the shutdown hooks'
    // context stop, which only cleans the run directory the launcher removes
    Runtime.getRuntime.halt(code)
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** JVM heap in use after full GCs: the least of four readings, with
    * pauses between them so the context cleaner can release what the
    * previous collection found unreachable. */
  private def heapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (0 until 4).map { _ =>
      System.gc(); Thread.sleep(150)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Before a timed iteration: collect the previous iteration's garbage and
    * give background JIT compilation a moment, so neither lands inside the
    * timed window. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(300)
  }

  private def gcNs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum * 1000000L

  def run(wl: Workload, seed: Long, seconds: Double, trace: Boolean, work: Path,
          launchMs: Long, cores: String): Int = {
    Files.createDirectories(work)
    val spark = graft.Sessions.local(cores, Map(
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
      "spark.local.dir" -> work.resolve("spark-local").toString))
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    var attempted = 0L
    var failed = 0L
    def check(what: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"CHECK FAILED: $what") }
    }

    // set-up: the inputs are generated three times; the median counts, and
    // the three must be byte-identical
    val input = work.resolve("input")
    val gens = (0 until 3).map { _ =>
      Tree.delete(input)
      val (m, s) = time(wl.generate(input, seed))
      (m, s, Tree.digest(input))
    }
    check("one seed gives byte-identical inputs", gens.map(_._3).distinct.size == 1)
    val manifest = gens.last._1
    val setupS = sessionS + Stats.median(gens.map(_._2))
    val inputBytes = Tree.bytes(input) - Files.size(input.resolve("manifest.json"))
    val inputRows = wl.inputRows(manifest)

    var iter = 0
    def newCtx(tracer: Tracer): Ctx = {
      iter += 1
      val out = work.resolve(s"out-$iter")
      Tree.delete(out)
      Files.createDirectories(out)
      new Ctx(spark, tracer, input, out, work, manifest, iter)
    }
    def cleanup(c: Ctx): Unit = {
      spark.catalog.clearCache()
      spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      Tree.delete(c.out)
      Tree.delete(work.resolve(s"ckpt-${c.iter}"))
      BusDrain(sc)
      listener.clear()
    }
    val untraced = new Tracer(sc, enabled = false)
    /** Runs one untraced iteration; returns (wall s, executor cpu s). */
    def iteration(c: Ctx): (Double, Double) = {
      settle()
      BusDrain(sc)
      val cpu0 = listener.totalCpuNs
      val (_, wall) = time(wl.run(c))
      attempted += c.verbs
      BusDrain(sc)
      (wall, (listener.totalCpuNs - cpu0) / 1e9)
    }
    def outputChecks(c: Ctx): String = {
      wl.checks(c).foreach { case (w, ok) => check(w, ok) }
      wl.digest(c)
    }

    try {
      val cold = newCtx(untraced)
      val (coldWall, _) = iteration(cold)
      val coldDigest = wl.digest(cold)
      cleanup(cold)

      // warm iterations until their timed seconds reach the budget
      val warmWall = mutable.ArrayBuffer.empty[Double]
      val warmCpu = mutable.ArrayBuffer.empty[Double]
      var storedBytes = 0L
      val warmBudget = if (trace) seconds / 2 else seconds
      var done = false
      while (!done) {
        val c = newCtx(untraced)
        val (w, cpu) = iteration(c)
        warmWall += w; warmCpu += cpu
        done = warmWall.sum >= warmBudget
        if (done) {
          storedBytes = Tree.bytes(c.out) + Tree.bytes(work.resolve("warehouse"))
          check("final outputs have the cold iteration's digest", outputChecks(c) == coldDigest)
        }
        cleanup(c)
      }
      val wall = Stats.lowMedian(warmWall.toSeq)

      val perLayer = if (!trace) Nil else {
        val tracer = new Tracer(sc, enabled = true)
        val perIter = mutable.ArrayBuffer.empty[Map[String, Double]]
        val allRes = mutable.Map.empty[Int, Res]
        val tracedWalls = mutable.ArrayBuffer.empty[Double]
        var tracedDone = false
        while (!tracedDone) {
          val c = newCtx(tracer)
          settle()
          listener.clear()
          val spill0 = listener.totalSpill
          val gc0 = gcNs()
          tracer.span(s"iteration-${c.iter}", "root")(wl.run(c))
          attempted += c.verbs
          BusDrain(sc)
          val gc = (gcNs() - gc0) / 1e9
          val root = tracer.spans.last
          val spans = tracer.spans.filter(s => s.id == root.id || s.parent == root.id).toSeq
          val res = listener.attribute(spans)
          allRes ++= res
          val ti = new TracedIter(spans, res, c)
          val layers = wl.layers(ti, c)
          wl.tracedChecks(c).foreach { case (w, ok) => check(w, ok) }
          val measured = spans.filter(_.kind == "measure").map(_.durNs).sum
          tracedWalls += (root.durNs - measured) / 1e9
          val unattributed = SelfTime.selfNs((root.startNs, root.endNs),
            spans.filter(_.parent == root.id).map(s => (s.startNs, s.endNs))) / 1e9
          perIter += (Metrics.PerLayer.map { case (n, _, f) => n -> f(layers) } ++
            Metrics.Extras.map { case (n, _) => n -> c.extras.getOrElse(n, 0.0) } ++
            Seq("spill_bytes" -> (listener.totalSpill - spill0).toDouble, "gc_s" -> gc,
              "unattributed_s" -> unattributed)).toMap
          cleanup(c)
          tracedDone = tracer.spans.filter(_.kind == "root").map(_.durNs).sum / 1e9 >= seconds / 2
        }
        // one more untraced iteration after the traced ones, so the
        // untraced side of the overhead is not only the least-warm iterations
        val after = newCtx(untraced)
        val untracedWalls = warmWall :+ iteration(after)._1
        cleanup(after)
        val overhead = Stats.median(tracedWalls.toSeq) - Stats.median(untracedWalls.toSeq)
        val spansOut = work.getParent.resolve(s"spans-${wl.name}-$seed.json")
        Files.write(spansOut, tracer.toJson(allRes.toMap).getBytes)
        Metrics.perLayerUnits.map { case (n, u) =>
          (n, u, if (n == "tracing_overhead_s") overhead else Stats.median(perIter.map(_(n)).toSeq))
        }
      }

      val heap = heapMb()
      val endToEnd = Seq(
        ("setup_s", "s", setupS), ("cold_wall_s", "s", coldWall), ("wall_s", "s", wall),
        ("rows_per_s", "rows/s", inputRows / wall), ("cpu_s", "s", Stats.lowMedian(warmCpu.toSeq)),
        ("retained_heap_mb", "MB", heap),
        ("stored_bytes_per_input_byte", "ratio", storedBytes.toDouble / inputBytes))
      println(s"workload=${wl.name} seed=$seed cores=$cores input_rows=$inputRows input_bytes=$inputBytes")
      println(f"setup_s: JVM + session start $sessionS%.3f s + median of 3 input generations " +
        f"${Stats.median(gens.map(_._2))}%.3f s (${gens.map(g => f"${g._2}%.3f").mkString(", ")})")
      println(f"wall_s: low median ${wall}%.4f over ${warmWall.size} warm iterations " +
        f"(min ${warmWall.min}%.4f, max ${warmWall.max}%.4f); too few samples for a tail percentile")
      endToEnd.foreach { case (n, u, v) => println(s"$n = $v $u") }
      println(s"error_rate = ${failed.toDouble / attempted} ratio ($failed failed of $attempted attempted)")
      val shown = if (trace) perLayer else endToEnd
      val metrics = shown.map { case (n, u, v) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
      if (failed == 0) 0 else 1
    } catch {
      case e: Throwable => // a verb or check that throws is one failed attempt
        e.printStackTrace()
        attempted += 1; failed += 1
        println(s"error_rate = ${failed.toDouble / attempted} ratio ($failed failed of $attempted attempted)")
        println(s"""{"correct": false, "attempted": $attempted, "failed": $failed, "metrics": {}}""")
        1
    }
  }
}
