package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.operators.{IntervalJoin, MetricTransforms}
import graft.runner.Main
import graft.schemas.Schemas
import graft.sources.Readers

/** A layer's share of one traced iteration. */
final case class LayerStat(wallNs: Long = 0, res: Res = Res(), rows: Long = 0, files: Long = 0) {
  def +(o: LayerStat): LayerStat = LayerStat(wallNs + o.wallNs, res + o.res, rows + o.rows, files + o.files)
  /** Prefix difference: time and resources subtract; rows and files stay
    * the longer prefix's. */
  def -(o: LayerStat): LayerStat = LayerStat(wallNs - o.wallNs, res - o.res, rows, files)
}

/** What one iteration sees: the session, the tracer, its inputs and its
  * private output directory. Verb calls and output checks are counted
  * here. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val input: Path,
                val out: Path, val runDir: Path, val manifest: Manifest, val iter: Int) {
  var verbs = 0L
  val probeRows: mutable.Map[String, Long] = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val filesBySpan: mutable.Map[Int, Long] = mutable.Map.empty
  val extras: mutable.Map[String, Double] = mutable.Map.empty

  def p(rel: String): String = out.resolve(rel).toString
  def in(rel: String): String = input.resolve(rel).toString

  /** One CLI verb through `runner.Main.run`, traced as `layer`. */
  def verb(layer: String, args: String*): Unit = {
    verbs += 1
    if (!tracer.enabled) Main.run(args, spark)
    else {
      val before = tracer.span("files", "measure")(Tree.snapshot(out, runDir.resolve("warehouse")))
      tracer.span(layer)(Main.run(args, spark))
      val id = tracer.spans.last.id
      val after = tracer.span("files", "measure")(Tree.snapshot(out, runDir.resolve("warehouse")))
      filesBySpan(id) = after.count { case (k, v) => !before.get(k).contains(v) }.toLong
    }
  }

  private var obsN = 0
  /** Traced runs only: materialize `df` to the noop sink as a measurement
    * span and record its row count. */
  def probe(name: String)(df: => DataFrame): Unit = if (tracer.enabled) {
    obsN += 1
    val obs = Observation(s"probe$obsN")
    tracer.span(name, "measure") {
      df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    }
    probeRows(name) += obs.get("n").asInstanceOf[Long]
  }
}

/** File-tree helpers over a run's directories. */
object Tree {
  private def files(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path]).sortBy(_.toString)
    finally s.close()
  }

  /** Files under `roots` (names starting with `.` skipped) with their size
    * and modification time. */
  def snapshot(roots: Path*): Map[String, (Long, Long)] = roots.filter(Files.exists(_)).flatMap { r =>
    files(r).filterNot(_.getFileName.toString.startsWith("."))
      .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
  }.toMap

  /** SHA-256 over every file's relative name and bytes. */
  def digest(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files(root).foreach { f =>
      md.update(root.relativize(f).toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def bytes(root: Path): Long = if (Files.exists(root)) files(root).map(Files.size).sum else 0L

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** A traced iteration's spans, resources and probe counts, by span name. */
final class TracedIter(spans: Seq[Span], res: Map[Int, Res], ctx: Ctx) {
  def stat(name: String): LayerStat = spans.filter(_.name == name).map(s =>
    LayerStat(s.durNs, res.getOrElse(s.id, Res()), res.getOrElse(s.id, Res()).recordsWritten,
      ctx.filesBySpan.getOrElse(s.id, 0L))).foldLeft(LayerStat())(_ + _)
  def rows(probe: String): Long = ctx.probeRows(probe)
  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name)
}

trait Workload {
  def name: String
  def generate(dir: Path, seed: Long): Manifest
  def inputRows(m: Manifest): Long
  def run(c: Ctx): Unit
  /** Output checks after an untraced iteration: (what, passed). */
  def checks(c: Ctx): Seq[(String, Boolean)]
  /** Checks only a traced iteration can make (probe counts). */
  def tracedChecks(c: Ctx): Seq[(String, Boolean)] = Nil
  /** Order-independent digest of the final outputs. */
  def digest(c: Ctx): String
  def layers(t: TracedIter, c: Ctx): Map[String, LayerStat]
}

object Workloads {

  val all: Seq[Workload] = Seq(Fresco, CorpusIngest)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** count, Σ and xor of a per-row hash over every column, doubles rounded
    * to 6 decimals. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => floor(col(s"`$c`") * 1e6 + 0.5).cast("long")
        case _ => col(s"`$c`")
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h"))).head()
    s"${r.get(0)}/${r.get(1)}/${r.get(2)}"
  }

  def parquetRows(spark: SparkSession, path: String): Long = spark.read.parquet(path).count()

  // ---- shared FRESCO steps ----

  val Families: Seq[(String, org.apache.spark.sql.types.StructType, DataFrame => DataFrame)] = Seq(
    ("block", Schemas.block, MetricTransforms.block _),
    ("cpu", Schemas.cpu, MetricTransforms.cpu _),
    ("llite", Schemas.llite, MetricTransforms.llite _),
    ("mem", Schemas.mem, (df: DataFrame) => MetricTransforms.mem(df)))

  /** CLI step 1 over one node batch. Traced runs first materialize, per
    * family, the prefixes read and read + transform, then all four
    * families' read + transform as one fused plan, to the noop sink. */
  def step1(c: Ctx, batch: String, out: String): Unit = {
    val glob = (f: String) => c.in(s"$batch/$f/*.csv")
    Families.foreach { case (f, schema, transform) =>
      c.probe(s"read:$batch:$f")(Readers.csv(c.spark, glob(f), schema))
      c.probe(s"mt:$batch:$f")(transform(Readers.csv(c.spark, glob(f), schema)))
    }
    c.probe(s"fused:$batch")(graft.Pipeline.step1(c.spark, glob("block"), glob("cpu"), glob("llite"), glob("mem")))
    c.verb(s"step1:$batch", "step1", "--block", glob("block"), "--cpu", glob("cpu"),
      "--llite", glob("llite"), "--mem", glob("mem"), "--out", out)
  }

  /** Splits a fused prefix among the layers inside it, in proportion to
    * the layers' standalone self times (a negative one counts as 0), so the
    * parts sum to the fused prefix exactly. Wall and CPU time are split;
    * byte counts and rows stay each part's own. */
  def apportion(fused: LayerStat, parts: Seq[(String, LayerStat)]): Seq[(String, LayerStat)] = {
    val w = parts.map(p => math.max(0L, p._2.wallNs).toDouble)
    val cpu = parts.map(p => math.max(0L, p._2.res.cpuNs).toDouble)
    def share(x: Seq[Double], i: Int) = if (x.sum > 0) x(i) / x.sum else 1.0 / x.size
    parts.zipWithIndex.map { case ((name, st), i) =>
      name -> st.copy(wallNs = (fused.wallNs * share(w, i)).round,
        res = st.res.copy(cpuNs = (fused.res.cpuNs * share(cpu, i)).round))
    }
  }

  /** Step 1's layers: the daily write is CLI step 1 minus the fused read +
    * transform prefix; that prefix is split among `Readers.csv` and the four
    * transforms by their standalone prefix differences (read, and read +
    * transform − read). The layers sum to the CLI step-1 span. */
  def step1Layers(t: TracedIter, c: Ctx, batches: Seq[String]): Map[String, LayerStat] = {
    val acc = mutable.Map.empty[String, LayerStat].withDefaultValue(LayerStat())
    val raw = mutable.Map.empty[String, Long].withDefaultValue(0L)
    batches.foreach { b =>
      val reads = Families.map { case (f, _, _) => t.stat(s"read:$b:$f").copy(rows = t.rows(s"read:$b:$f")) }
      val parts = ("Readers.csv" -> reads.reduce(_ + _)) +: Families.zip(reads).map { case ((f, _, _), r) =>
        s"MetricTransforms.$f" -> (t.stat(s"mt:$b:$f").copy(rows = t.rows(s"mt:$b:$f")) - r)
      }
      Families.zip(reads).foreach { case ((f, _, _), r) => raw(f) += r.rows }
      val fused = t.stat(s"fused:$b")
      apportion(fused, parts).foreach { case (n, st) => acc(n) += st }
      val verb = t.stat(s"step1:$b")
      acc("Pipeline.writeDaily") += (verb - fused).copy(rows = verb.res.recordsWritten, files = verb.files)
    }
    Families.foreach { case (f, _, _) =>
      c.extras(s"MetricTransforms.$f.keep_ratio") =
        acc(s"MetricTransforms.$f").rows.toDouble / math.max(1L, raw(f))
    }
    acc.toMap
  }

  /** CLI step 2; traced runs first materialize the two readers, then the
    * interval join over them. */
  def step2(c: Ctx, metrics: String, out: String): Unit = {
    val acct = c.in("accounting.csv")
    c.probe("read:fresco")(Readers.frescoMetrics(c.spark, metrics))
    c.probe("read:accounting")(Readers.accounting(c.spark, acct))
    c.probe("join")(IntervalJoin(Readers.frescoMetrics(c.spark, metrics), Readers.accounting(c.spark, acct)))
    c.verb("step2", "step2", "--metrics", metrics, "--accounting", acct, "--out", out)
  }

  /** Step 2's layers: the bucket pivot (with the write) is CLI step 2
    * minus the fused read + join prefix, which is split among the two
    * readers and the join by their standalone prefix differences. */
  def step2Layers(t: TracedIter, c: Ctx): Map[String, LayerStat] = {
    val f = t.stat("read:fresco").copy(rows = t.rows("read:fresco"))
    val a = t.stat("read:accounting").copy(rows = t.rows("read:accounting"))
    val j = t.stat("join").copy(rows = t.rows("join"))
    val v = t.stat("step2")
    c.extras("IntervalJoin.match_ratio") = j.rows.toDouble / math.max(1L, f.rows)
    apportion(j, Seq("Readers.fresco" -> f, "Readers.accounting" -> a, "IntervalJoin" -> (j - f - a))).toMap +
      ("BucketAggregate" -> (v - j).copy(rows = v.res.recordsWritten, files = v.files))
  }

  def step2Checks(c: Ctx): Seq[(String, Boolean)] = Seq(
    "Readers.fresco rows = manifest step2 input" ->
      (c.probeRows("read:fresco") == c.manifest("step2.fresco_in")),
    "Readers.accounting rows = manifest" -> (c.probeRows("read:accounting") == c.manifest("acct.rows")),
    "IntervalJoin rows = manifest join rows" -> (c.probeRows("join") == c.manifest("join.rows")))

  /** Checks of the step-2 wide table and the step-3 final table. */
  def wideChecks(c: Ctx, wide: String, fin: String): Seq[(String, Boolean)] = {
    val w = c.spark.read.parquet(wide)
    val f = c.spark.read.parquet(fin)
    val bad = f.agg(
      count(lit(1)),
      sum(when(col("value_cpuuser") < 0 || col("value_cpuuser") > 100, 1L).otherwise(0L)),
      sum(when(!col("jid").endsWith("_S") || !col("host").endsWith("_S") ||
        !col("username").endsWith("_S"), 1L).otherwise(0L))).head()
    Seq(
      "wide schema = Schemas.outputColumns" -> (w.columns.toSeq == Schemas.outputColumns),
      "final schema = Schemas.outputColumns" -> (f.columns.toSeq == Schemas.outputColumns),
      "wide rows = manifest" -> (w.count() == c.manifest("step2.rows_out")),
      "final rows = manifest" -> (bad.getLong(0) == c.manifest("step3.rows_out")),
      "value_cpuuser in [0, 100]" -> (Option(bad.get(1)).fold(0L)(_.asInstanceOf[Long]) == 0L),
      "jid, host, username carry _S" -> (Option(bad.get(2)).fold(0L)(_.asInstanceOf[Long]) == 0L))
  }
}

/** The paper's run end to end, in the reference's process shape: step 1
  * turns raw node CSVs into daily FRESCO files; a mover lands them, with
  * rounds of small per-node FRESCO files from other nodes, in a landing
  * directory; `compact --once` drains each round into the daily store (the
  * appender); step 2 reads the store against dense accounting and step 3
  * finalizes; a last re-drain must add nothing. */
object Fresco extends Workload {
  val name = "fresco"
  val batch: Gen.BatchSize = Gen.BatchSize(nodes = 16, samples = 150, cores = 16, devices = 2)
  val stream: Gen.StreamSize = Gen.StreamSize(nodes = 32, samples = 180, rounds = 2)
  def generate(dir: Path, seed: Long): Manifest = Gen.fresco(dir, seed, batch, stream)
  def inputRows(m: Manifest): Long =
    Seq("block", "cpu", "llite", "mem", "landed", "accounting").map(f => m(s"raw.$f")).sum

  def run(c: Ctx): Unit = {
    Workloads.step1(c, "a", c.p("fresco"))
    Workloads.step1(c, "b", c.p("fresco"))
    val landing = c.out.resolve("landing")
    Files.createDirectories(landing)
    val ckpt = c.runDir.resolve(s"ckpt-${c.iter}").toString
    def drain(): Unit =
      c.verb("Compactor", "compact", "--landing", landing.toString, "--out", c.p("daily"),
        "--checkpoint", ckpt, "--once")
    def land(dir: Path, prefix: String): Unit = {
      val s = Files.walk(dir)
      try s.filter(f => f.getFileName.toString.endsWith(".parquet"))
        .forEach(f => Files.createLink(landing.resolve(prefix + dir.relativize(f).toString.replace('/', '-')), f))
      finally s.close()
    }
    land(c.out.resolve("fresco"), "step1-")
    for (r <- 0 until stream.rounds) {
      land(c.input.resolve(s"rounds/r$r"), s"r$r-")
      drain()
    }
    Workloads.step2(c, c.p("daily"), c.p("wide"))
    c.verb("Finalize", "step3", "--in", c.p("wide"), "--out", c.p("final"))
    drain()
  }

  def checks(c: Ctx): Seq[(String, Boolean)] = {
    val fresco = c.spark.read.parquet(c.p("fresco"))
    val byEvent = fresco.groupBy("Event").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("step1 rows = manifest" -> (byEvent.values.sum == c.manifest("step1.rows_out"))) ++
      Gen.Events.map(e => s"step1 $e rows = manifest" -> (byEvent.getOrElse(e, 0L) == c.manifest(s"step1.event.$e"))) ++
      Seq("compacted rows = landed rows, re-drain added 0" ->
        (Workloads.parquetRows(c.spark, c.p("daily")) == c.manifest("step1.rows_out") + c.manifest("raw.landed"))) ++
      Workloads.wideChecks(c, c.p("wide"), c.p("final"))
  }

  override def tracedChecks(c: Ctx): Seq[(String, Boolean)] =
    (for (b <- Seq("a", "b"); (f, _, _) <- Workloads.Families) yield Seq(
      s"Readers.csv $b/$f rows = manifest" -> (c.probeRows(s"read:$b:$f") == c.manifest(s"$b.raw.$f")),
      s"MetricTransforms.$f $b rows = manifest" -> (c.probeRows(s"mt:$b:$f") == c.manifest(s"$b.$f.rows_out"))
    )).flatten ++ Workloads.step2Checks(c)

  def digest(c: Ctx): String =
    Seq("daily", "final").map(d => Workloads.digest(c.spark.read.parquet(c.p(d)))).mkString("|")

  def layers(t: TracedIter, c: Ctx): Map[String, LayerStat] = {
    val rounds = t.spansNamed("Compactor").dropRight(1)
    c.extras("Compactor.drain_s") = Stats.median(rounds.map(_.durNs / 1e9))
    c.extras("Compactor.commit_log_files") = {
      val log = c.out.resolve("daily/_spark_metadata")
      if (Files.exists(log)) { val s = Files.list(log); try s.count().toDouble finally s.close() } else 0.0
    }
    Workloads.step1Layers(t, c, Seq("a", "b")) ++ Workloads.step2Layers(t, c) +
      ("Finalize" -> t.stat("Finalize")) + ("Compactor" -> t.stat("Compactor"))
  }
}

/** The training-data extension's ingest cycle through the CLI. */
object CorpusIngest extends Workload {
  val name = "corpus_ingest"
  val size: Gen.CorpusSize = Gen.CorpusSize(docs = 800, batches = 1, batchDocs = 200)
  private var planted: Gen.Corpus = _
  def generate(dir: Path, seed: Long): Manifest = {
    val (m, c) = Gen.corpus(dir, seed, size)
    planted = c
    m
  }
  def inputRows(m: Manifest): Long = m("raw.docs") + m("raw.batch_docs")

  def run(c: Ctx): Unit = {
    val ix = s"ix_${c.iter}"
    val bm = c.p("bm25/ix")
    c.verb("Pipeline.curate", "curate", "--in", c.in("docs"), "--eval", c.in("eval"), "--out", c.p("curated"))
    c.verb("Dedup.index.build", "index-build", "--in", c.p("curated"), "--name", ix, "--buckets", "8")
    for (b <- 0 until size.batches) {
      c.verb("Dedup.index.filter", "index-filter", "--in", c.in(s"batch$b"), "--name", ix, "--out", c.p(s"kept$b"))
      c.verb("Dedup.index.append", "index-append", "--in", c.p(s"kept$b"), "--name", ix)
    }
    c.verb("Dedup.index.delete", "index-delete", "--in", c.in("takedown"), "--name", ix)
    c.verb("Dedup.index.filter", "index-filter", "--in", c.in("batch0"), "--name", ix, "--out", c.p("reprobe"))
    c.verb("Dedup.index.compact", "index-compact", "--name", ix)
    c.verb("Dedup.index.filter", "index-filter", "--in", c.in("batch0"), "--name", ix,
      "--out", c.p("reprobe_compacted"))
    c.verb("LanguageModel.train", "lm-train", "--in", c.p("curated"), "--path", c.p("lm"))
    c.verb("LanguageModel.score", "lm-score", "--in", c.in("batch0"), "--path", c.p("lm"), "--out", c.p("scored"))
    c.verb("TextIndex.build", "bm25-build", "--in", c.p("curated"), "--path", bm, "--term-partitions", "4")
    c.verb("TextIndex.append", "bm25-append", "--in", c.p("kept0"), "--path", bm, "--epoch", "e1",
      "--term-partitions", "4")
    c.verb("TextIndex.compact", "bm25-compact", "--path", bm, "--term-partitions", "4")
    c.verb("TextIndex.search", "bm25-search", "--path", bm, "--query", planted.query, "--out", c.p("search"))
  }

  private def ids(c: Ctx, path: String): Set[Long] =
    c.spark.read.parquet(path).select("doc_id").collect().map(_.getLong(0)).toSet

  def checks(c: Ctx): Seq[(String, Boolean)] = {
    val m = c.manifest
    val curated = c.spark.read.parquet(c.p("curated"))
    val emails = curated.agg(sum("n_emails")).head().getLong(0)
    val corpusIds = (1L to m("raw.docs")).toSet
    val batchIds = (b: Int) => ((b + 2) * 100000L until (b + 2) * 100000L + size.batchDocs).toSet
    Seq(
      "curate rows = manifest" -> (curated.count() == m("curate.rows_out")),
      "curate drops exactly the planted dups, contamination and low quality" ->
        (ids(c, c.p("curated")) == corpusIds -- planted.corpusDups -- planted.contaminated -- planted.lowQuality),
      "curate redacts every planted email" -> (emails == m("curate.pii_emails")),
      "index-filter drops exactly the planted near-dups" -> (0 until size.batches).forall(b =>
        ids(c, c.p(s"kept$b")) == batchIds(b) -- planted.batchDups(b)),
      "after index-delete the deleted docs' near-dups come back" ->
        (ids(c, c.p("reprobe")) == planted.reappearing),
      "index-filter result same before and after index-compact" ->
        (ids(c, c.p("reprobe_compacted")) == ids(c, c.p("reprobe"))),
      "lm-score scores every doc" -> (Workloads.parquetRows(c.spark, c.p("scored")) == size.batchDocs),
      "bm25-search finds the query's source doc" -> ids(c, c.p("search")).contains(planted.queryDoc))
  }

  def digest(c: Ctx): String =
    Seq("curated", "kept0", "reprobe", "scored", "search")
      .map(d => Workloads.digest(c.spark.read.parquet(c.p(d)))).mkString("|")

  def layers(t: TracedIter, c: Ctx): Map[String, LayerStat] = {
    val filters = t.stat("Dedup.index.filter")
    c.extras("Dedup.index.filter.keep_ratio") =
      filters.res.recordsWritten.toDouble / (size.batchDocs * (size.batches + 2))
    Seq("Pipeline.curate", "Dedup.index.build", "Dedup.index.filter", "Dedup.index.append",
      "Dedup.index.delete", "Dedup.index.compact", "LanguageModel.train", "LanguageModel.score",
      "TextIndex.build", "TextIndex.append", "TextIndex.compact", "TextIndex.search")
      .map(l => l -> t.stat(l)).toMap
  }
}

object Stats {
  /** The lower of the two middle values for an even count: with two warm
    * iterations, one disturbed by a neighbour on a shared host does not
    * move the result. */
  def lowMedian(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
