package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.{Random, Try}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}

/** Stage row counts the generator expects, keyed by stage and drop rule.
  * Written next to the inputs as `manifest.json`. */
final class Manifest {
  private val m = mutable.LinkedHashMap.empty[String, Long]
  def add(key: String, n: Long): Unit = m(key) = m.getOrElse(key, 0L) + n
  def apply(key: String): Long = m.getOrElse(key, 0L)
  def keys: Iterable[String] = m.keys
  def toJson: String =
    m.map { case (k, v) => s"  \"$k\": $v" }.mkString("{\n", ",\n", "\n}\n")
}

/** Seeded input generators. Each writes files only; the program under test
  * reads nothing else. The same seed writes byte-identical files.
  *
  * Raw node CSVs carry the SURVEY §7.4 traps at fixed low rates: `""`/`NA`/
  * `NULL` sentinels, garbage numeric cells, duplicate timestamps, counter
  * resets, same-second resamples (a gap under 0.1 s), a node whose mem.csv
  * has no MemUsed column, and job-id variants. The expected counts come from
  * [[Oracle]], which replays the step-1 and step-2 drop rules over the cells
  * exactly as written. */
object Gen {

  val Sentinels: Seq[String] = Seq("", "NA", "NULL")
  val Garbage = "#REF!"
  val RawTs: DateTimeFormatter = DateTimeFormatter.ofPattern("MM/dd/yyyy HH:mm:ss")
  /** 2013-02-27 22:00:00 UTC: runs cross midnight, so the daily layout has two days. */
  val T0: Long = 1362002400L
  val Events: Seq[String] = Seq("block", "cpuuser", "nfs", "memused", "memused_minus_diskcache")

  def fmtTs(sec: Long): String = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).format(RawTs)

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  // ---- job schedule shared by the FRESCO workloads ----

  final case class Job(num: Long, start: Long, end: Long, nodeVariant: String, acctVariant: String)

  /** Node groups of 1, 2 or 4 hosts run jobs back to back; between jobs a
    * group idles 0-3 samples that still carry the previous job's id
    * (samples outside every job interval). About 5% of jobs reuse the id of
    * a job that ended earlier (resubmitted jids). */
  def schedule(rnd: Random, hosts: Seq[String], samples: Int, minLen: Int,
               maxLen: Int, firstNum: Long): (Seq[Job], Map[String, Array[Int]]) = {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val jobAt = hosts.map(_ -> Array.fill(samples)(-1)).toMap
    var next = firstNum
    var i = 0
    while (i < hosts.size) {
      val g = math.min(Seq(1, 1, 2, 4)(rnd.nextInt(4)), hosts.size - i)
      val group = hosts.slice(i, i + g)
      i += g
      var s = 0
      while (s < samples) {
        val len = math.min(minLen + rnd.nextInt(maxLen - minLen + 1), samples - s)
        val first = s; val last = s + len - 1
        val start = T0 + first * 60L - (1 + rnd.nextInt(50))
        val end = T0 + last * 60L + (1 + rnd.nextInt(50))
        val reusable = jobs.filter(_.end < start - 60)
        val num =
          if (reusable.nonEmpty && rnd.nextInt(20) == 0) reusable(rnd.nextInt(reusable.size)).num
          else { next += 1; next }
        val job = Job(num, start, end,
          nodeVariant = if (rnd.nextInt(4) == 0) "jobID" else "job",
          acctVariant = Seq("", "JOB", "jobID")(rnd.nextInt(3)))
        val idx = jobs.size
        jobs += job
        val gap = rnd.nextInt(4)
        for (h <- group; t <- first until math.min(samples, last + 1 + gap)) jobAt(h)(t) = idx
        s = last + 1 + gap
      }
    }
    (jobs.toSeq, jobAt)
  }

  /** Accounting CSV: one row per job plus the accounting traps — a row whose
    * jobID is a sentinel, one with an unparseable start, and one with
    * start ≥ end. */
  def accountingCsv(rnd: Random, jobs: Seq[Job]): String = {
    val sb = new StringBuilder(
      "jobID,user,account,jobname,queue,nnodes,ncpus,walltime,start,end,submit,exit_status\n")
    def row(id: String, start: String, end: String, submit: String, j: Int): Unit =
      sb.append(id).append(',').append("user").append(j % 37).append(',')
        .append("TG-").append(j % 11).append(",sim").append(j % 13).append(',')
        .append(if (j % 5 == 0) "largemem" else "normal").append(',')
        .append(1 + j % 4).append(',').append(16 * (1 + j % 4)).append(',')
        .append(3600 * (1 + j % 3)).append(',').append(start).append(',')
        .append(end).append(',').append(submit).append(',')
        .append(if (j % 9 == 0) "FAILED" else "COMPLETED").append('\n')
    jobs.zipWithIndex.foreach { case (j, k) =>
      row(s"${j.acctVariant}${j.num}", fmtTs(j.start), fmtTs(j.end), fmtTs(j.start - 120), k)
    }
    val n = jobs.size
    row(Sentinels(rnd.nextInt(3)), fmtTs(T0), fmtTs(T0 + 600), fmtTs(T0), n)
    row("9999991", "not-a-time", fmtTs(T0 + 600), fmtTs(T0), n + 1)
    row("9999992", fmtTs(T0 + 600), fmtTs(T0 + 600), fmtTs(T0), n + 2)
    sb.toString
  }

  // ---- raw node CSVs (the step-1 path) ----

  final case class BatchSize(nodes: Int, samples: Int, cores: Int, devices: Int)

  /** Trap planting for one CSV family: each trap kind hits about one
    * sample in `perSample` whatever the family's cells per sample, so the
    * 16-core cpu.csv is not trapped 16x as often as llite.csv. */
  private final class Traps(rnd: Random, cellsPerSample: Int, perSample: Int = 400) {
    private val cellDenom = perSample * cellsPerSample
    def num(v: Long): String = {
      val r = rnd.nextInt(cellDenom)
      if (r < 3) Sentinels(r) else if (r < 4) Garbage else v.toString
    }
    def key(v: String): String = if (rnd.nextInt(cellDenom) == 0) Sentinels(rnd.nextInt(3)) else v
    def ts(sec: Long): String = if (rnd.nextInt(cellDenom) == 0) "not-a-time" else fmtTs(sec)
    def hit(): Boolean = rnd.nextInt(cellDenom) == 0
  }

  /** One node's four CSV families as cell rows (header first). */
  final case class NodeCsv(block: Seq[Array[String]], cpu: Seq[Array[String]],
                           llite: Seq[Array[String]], mem: Seq[Array[String]])

  val BlockHeader: Array[String] = Array("jobID", "node", "timestamp", "device", "rd_sectors", "wr_sectors")
  val CpuHeader: Array[String] = Array("jobID", "node", "timestamp", "device",
    "user", "nice", "system", "idle", "iowait", "irq", "softirq")
  val LliteHeader: Array[String] = Array("jobID", "node", "timestamp", "read_bytes", "write_bytes")
  val MemHeader: Array[String] = Array("jobID", "node", "timestamp", "MemTotal", "MemFree", "MemUsed", "FilePages")
  val MemHeaderNoUsed: Array[String] = Array("jobID", "node", "timestamp", "MemTotal", "MemFree", "FilePages")

  def nodeCsv(rnd: Random, host: String, jobs: Seq[Job], jobAt: Array[Int],
              size: BatchSize, withMemUsed: Boolean): NodeCsv = {
    val block = mutable.ArrayBuffer(BlockHeader)
    val cpu = mutable.ArrayBuffer(CpuHeader)
    val llite = mutable.ArrayBuffer(LliteHeader)
    val mem = mutable.ArrayBuffer(if (withMemUsed) MemHeader else MemHeaderNoUsed)
    val sectors = Array.fill(size.devices * 2)(1000000L + rnd.nextInt(1000000))
    val jiffies = Array.fill(size.cores * 7)(10000000L + rnd.nextInt(1000000))
    val lbytes = Array.fill(2)(1000000000L + rnd.nextInt(1000000))
    val memTotal = 34359738368L
    val bt = new Traps(rnd, size.devices * 2)
    val ct = new Traps(rnd, size.cores * 7)
    val lt = new Traps(rnd, 2)
    val mt = new Traps(rnd, 4)
    for (s <- 0 until size.samples if jobAt(s) >= 0) {
      val j = jobs(jobAt(s))
      val jid = s"${j.nodeVariant}${j.num}"
      val ts = T0 + s * 60L
      if (rnd.nextInt(800) == 0) { // counter reset (node reboot)
        java.util.Arrays.fill(sectors, 0L); java.util.Arrays.fill(jiffies, 0L)
        java.util.Arrays.fill(lbytes, 0L)
      }
      for (d <- 0 until size.devices) {
        sectors(2 * d) += rnd.nextInt(20000); sectors(2 * d + 1) += rnd.nextInt(40000)
        val row = Array(bt.key(jid), bt.key(host), bt.ts(ts), s"sd${('a' + d).toChar}",
          bt.num(sectors(2 * d)), bt.num(sectors(2 * d + 1)))
        block += row
        if (bt.hit()) block += row.clone() // duplicate timestamp
      }
      for (c <- 0 until size.cores) {
        val busy = rnd.nextInt(6000)
        val inc = Array(busy * 7 / 10, rnd.nextInt(30), busy * 2 / 10, 6000 - busy,
          rnd.nextInt(100), rnd.nextInt(10), rnd.nextInt(20))
        for (k <- 0 until 7) jiffies(c * 7 + k) += inc(k)
        val row = Array(ct.key(jid), ct.key(host), ct.ts(ts),
          if (ct.hit()) Sentinels(rnd.nextInt(3)) else s"cpu$c") ++
          (0 until 7).map(k => ct.num(jiffies(c * 7 + k)))
        cpu += row
        if (ct.hit()) cpu += row.clone()
      }
      lbytes(0) += rnd.nextInt(50000000); lbytes(1) += rnd.nextInt(20000000)
      llite += Array(lt.key(jid), lt.key(host), lt.ts(ts), lt.num(lbytes(0)), lt.num(lbytes(1)))
      if (lt.hit()) { // same-second resample: a gap under 0.1 s
        lbytes(0) += 4096
        llite += Array(jid, host, fmtTs(ts), lbytes(0).toString, lbytes(1).toString)
      }
      val free = 4000000000L + rnd.nextInt(1000000000)
      val pages = 2000000000L + rnd.nextInt(1000000000)
      val memRow =
        if (withMemUsed) Array(mt.key(jid), mt.key(host), mt.ts(ts),
          mt.num(memTotal), mt.num(free), mt.num(memTotal - free), mt.num(pages))
        else Array(mt.key(jid), mt.key(host), mt.ts(ts), mt.num(memTotal), mt.num(free), mt.num(pages))
      mem += memRow
      if (mt.hit()) mem += memRow.clone()
    }
    NodeCsv(block.toSeq, cpu.toSeq, llite.toSeq, mem.toSeq)
  }

  def csvText(rows: Seq[Array[String]]): String = {
    val sb = new StringBuilder
    rows.foreach { r => sb.append(r.mkString(",")).append('\n') }
    sb.toString
  }

  // ---- FRESCO-long parquet (the mover/appender rounds) ----

  val FrescoSchema: MessageType = Types.buildMessage()
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("Job Id")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("Host")
    .optional(INT64).as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
    .named("Timestamp")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("Event")
    .optional(DOUBLE).named("Value")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("Units")
    .named("fresco")

  private val UnitsOf = Map("block" -> "GB/s", "cpuuser" -> "CPU %", "nfs" -> "MB/s",
    "memused" -> "GB", "memused_minus_diskcache" -> "GB", "gpu_util" -> "%")

  def writeFresco(p: Path, rows: Seq[Oracle.FrescoRow], value: Oracle.FrescoRow => Double): Unit = {
    Files.createDirectories(p.getParent)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(p))
      .withType(FrescoSchema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val f = new SimpleGroupFactory(FrescoSchema)
    try rows.foreach { r =>
      w.write(f.newGroup().append("Job Id", r.job).append("Host", r.host)
        .append("Timestamp", r.tsMicros).append("Event", r.event)
        .append("Value", value(r)).append("Units", UnitsOf(r.event)))
    } finally w.close()
  }

  /** FRESCO-long rows of a schedule: one row per event per sample, with the
    * FRESCO-level traps — rows of an event step 2 does not keep, duplicate
    * timestamps, sub-0.1 s gaps, and job-id variants. */
  def frescoRows(rnd: Random, jobs: Seq[Job], jobAt: Map[String, Array[Int]],
                 hosts: Seq[String], samples: Range): Seq[Oracle.FrescoRow] = {
    val out = mutable.ArrayBuffer.empty[Oracle.FrescoRow]
    for (h <- hosts; s <- samples if jobAt(h)(s) >= 0) {
      val j = jobs(jobAt(h)(s))
      val id = if (j.nodeVariant == "job") s"JOB${j.num}" else s"${j.num}"
      val ts = (T0 + s * 60L) * 1000000L + rnd.nextInt(1000000)
      Events.foreach(e => out += Oracle.FrescoRow(id, h, ts, e))
      if (rnd.nextInt(50) == 0) out += Oracle.FrescoRow(id, h, ts, "gpu_util")
      if (rnd.nextInt(200) == 0) out += Oracle.FrescoRow(id, h, ts, "cpuuser")
      if (rnd.nextInt(200) == 0) out += Oracle.FrescoRow(id, h, ts + 50000, "nfs")
    }
    out.toSeq
  }

  private def value(rnd: Random)(r: Oracle.FrescoRow): Double = r.event match {
    case "cpuuser" => rnd.nextInt(100001) / 1000.0
    case _ => rnd.nextInt(1000000) / 1000.0
  }

  final case class StreamSize(nodes: Int, samples: Int, rounds: Int)

  /** fresco inputs. The step-1 path gets raw node CSVs in two node batches
    * (the reference processes nodes in batches; the engine appends each
    * into one daily layout): `a` holds every node but the last, `b` the
    * last node, whose mem.csv lacks MemUsed. The mover/appender path gets
    * one small FRESCO file per node per round under `rounds/r<k>/`, for
    * other nodes running short, often multi-host jobs, so accounting is
    * dense. One accounting CSV covers both. */
  def fresco(dir: Path, seed: Long, batch: BatchSize, stream: StreamSize): Manifest = {
    val rnd = new Random(seed)
    val m = new Manifest
    val rows = mutable.ArrayBuffer.empty[Oracle.FrescoRow]
    val hosts = (1 to batch.nodes).map(i => f"c4$i%02d-1${i % 10}%d1")
    val (jobs, jobAt) = schedule(rnd, hosts, batch.samples, 20, 50, 100000L)
    for ((h, i) <- hosts.zipWithIndex) {
      val b = if (i == hosts.size - 1) "b" else "a"
      val csv = nodeCsv(rnd, h, jobs, jobAt(h), batch, withMemUsed = b == "a")
      Seq("block" -> csv.block, "cpu" -> csv.cpu, "llite" -> csv.llite, "mem" -> csv.mem)
        .foreach { case (fam, cells) =>
          write(dir.resolve(s"$b/$fam/$h.csv"), csvText(cells))
          m.add(s"raw.$fam", cells.size - 1L)
          m.add(s"$b.raw.$fam", cells.size - 1L)
          rows ++= Oracle.step1(fam, cells, m, b)
        }
    }
    m.add("step1.rows_out", rows.size.toLong)
    val shosts = (1 to stream.nodes).map(i => f"c6$i%03d-101")
    val (sjobs, sjobAt) = schedule(rnd, shosts, stream.samples, 4, 16, 300000L)
    val v = value(rnd) _
    val per = stream.samples / stream.rounds
    for (r <- 0 until stream.rounds) {
      val range = r * per until (if (r == stream.rounds - 1) stream.samples else (r + 1) * per)
      for (h <- shosts) {
        val landed = frescoRows(rnd, sjobs, sjobAt, Seq(h), range)
        if (landed.nonEmpty) writeFresco(dir.resolve(s"rounds/r$r/$h.parquet"), landed, v)
        m.add("raw.landed", landed.size.toLong)
        rows ++= landed
      }
    }
    val acct = accountingCsv(rnd, jobs ++ sjobs)
    write(dir.resolve("accounting.csv"), acct)
    m.add("raw.accounting", acct.count(_ == '\n') - 1L)
    Oracle.step2(rows.toSeq, Oracle.accounting(acct), m)
    write(dir.resolve("manifest.json"), m.toJson)
    m
  }

  // ---- corpus_ingest: documents ----

  val DocSchema: MessageType = Types.buildMessage()
    .optional(INT64).named("doc_id")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("text")
    .named("docs")

  def writeDocs(p: Path, docs: Seq[(Long, String)]): Unit = {
    Files.createDirectories(p.getParent)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(p))
      .withType(DocSchema).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val f = new SimpleGroupFactory(DocSchema)
    try docs.foreach { case (id, t) => w.write(f.newGroup().append("doc_id", id).append("text", t)) }
    finally w.close()
  }

  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
    "it", "on", "for", "with", "as", "at", "by", "from", "that", "this")

  final case class CorpusSize(docs: Int, batches: Int, batchDocs: Int)

  /** The planted corpus of one corpus_ingest run. Ids: corpus 1..n, eval
    * 1e6+, batch k at (k+2)·1e5+. */
  final case class Corpus(corpusDups: Set[Long], contaminated: Set[Long], lowQuality: Set[Long],
                          batchDups: Seq[Set[Long]], reappearing: Set[Long], queryDoc: Long, query: String)

  def corpus(dir: Path, seed: Long, size: CorpusSize): (Manifest, Corpus) = {
    val rnd = new Random(seed)
    val syll = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gu", "re", "fi", "ba")
    val vocab = (0 until 3000).map { i =>
      val n = 2 + i % 3
      (0 until n).map(k => syll((i / math.pow(15, k).toInt + k) % 15)).mkString + (i % 97)
    }.distinct
    def words(n: Int): Vector[String] = Vector.fill(n)(
      if (rnd.nextInt(10) < 3) Stopwords(rnd.nextInt(Stopwords.size)) else vocab(rnd.nextInt(vocab.size)))
    // one substituted word keeps the 3-gram Jaccard near 0.93, far above 0.8
    def nearDup(t: Vector[String]): Vector[String] = {
      val k = 10 + rnd.nextInt(t.size - 20)
      t.updated(k, vocab(rnd.nextInt(vocab.size)) + "x")
    }
    val evalDocs = (0 until 40).map(i => (1000000L + i, words(60 + rnd.nextInt(20))))
    val docs = mutable.ArrayBuffer.empty[(Long, Vector[String])]
    val dups = mutable.Set.empty[Long]; val contaminated = mutable.Set.empty[Long]
    val low = mutable.Set.empty[Long]
    var emails = 0
    var id = 0L
    while (docs.size < size.docs) {
      id += 1
      val r = rnd.nextInt(100)
      val t =
        if (r < 4 && docs.size > 10 && !dups(docs.last._1) && !contaminated(docs.last._1) && !low(docs.last._1)) {
          dups += id; nearDup(docs.last._2)
        } else if (r < 6) {
          contaminated += id
          val e = evalDocs(rnd.nextInt(evalDocs.size))._2
          val k = rnd.nextInt(e.size - 12)
          words(30) ++ e.slice(k, k + 12) ++ words(30)
        } else if (r < 8) {
          low += id; Vector.fill(6)(s"${vocab(rnd.nextInt(vocab.size))}!!!")
        } else if (r < 10) {
          emails += 1
          val t0 = words(70)
          t0.updated(35, s"user${rnd.nextInt(1000)}@example.org")
        } else words(60 + rnd.nextInt(40))
      docs += ((id, t))
    }
    val survivors = docs.filter(d => !dups(d._1) && !contaminated(d._1) && !low(d._1))
    writeDocs(dir.resolve("docs/part-00000.parquet"), docs.map(d => (d._1, d._2.mkString(" "))).toSeq)
    writeDocs(dir.resolve("eval/part-00000.parquet"), evalDocs.map(d => (d._1, d._2.mkString(" "))))
    // ingest batches: novel docs, near-dups of surviving corpus docs, and
    // (from the second batch on) near-dups of the previous batch's novel docs
    val batchDups = mutable.ArrayBuffer.empty[Set[Long]]
    var prevNovel = Seq.empty[Vector[String]]
    val firstBatchDupOf = mutable.Map.empty[Long, Long]
    for (b <- 0 until size.batches) {
      val base = (b + 2) * 100000L
      val ds = mutable.Set.empty[Long]
      val rows = mutable.ArrayBuffer.empty[(Long, String)]
      val novel = mutable.ArrayBuffer.empty[Vector[String]]
      for (i <- 0 until size.batchDocs) {
        val bid = base + i
        val r = rnd.nextInt(10)
        val t =
          if (r == 0) {
            ds += bid
            val src = survivors(rnd.nextInt(survivors.size))
            if (b == 0) firstBatchDupOf(bid) = src._1
            nearDup(src._2)
          } else if (r == 1 && prevNovel.nonEmpty) {
            ds += bid; nearDup(prevNovel(rnd.nextInt(prevNovel.size)))
          } else { val t = words(60 + rnd.nextInt(40)); novel += t; t }
        rows += ((bid, t.mkString(" ")))
      }
      writeDocs(dir.resolve(s"batch$b/part-00000.parquet"), rows.toSeq)
      batchDups += ds.toSet
      prevNovel = novel.toSeq
    }
    // takedown: corpus docs whose near-dups sit in the first batch; after
    // the delete, re-filtering that batch keeps exactly those near-dups
    // (everything else in it matches the index, its novel docs included,
    // since they were appended)
    val pairs = firstBatchDupOf.toSeq.sortBy(_._1)
    val take = pairs.take(math.max(1, pairs.size / 3))
    val takeIds = take.map(_._2).toSet
    val reappearing = pairs.filter(p => takeIds(p._2)).map(_._1).toSet
    writeDocs(dir.resolve("takedown/part-00000.parquet"), takeIds.toSeq.sorted.map(i => (i, "")))
    val q = survivors(survivors.size / 2)
    val query = q._2.filterNot(Stopwords.contains).take(4).mkString(" ")
    val m = new Manifest
    m.add("raw.docs", docs.size.toLong)
    m.add("raw.batch_docs", size.batches.toLong * size.batchDocs)
    m.add("curate.rows_out", survivors.size.toLong)
    m.add("curate.drop.near_dup", dups.size.toLong)
    m.add("curate.drop.contaminated", contaminated.size.toLong)
    m.add("curate.drop.low_quality", low.size.toLong)
    m.add("curate.pii_emails", emails.toLong)
    batchDups.zipWithIndex.foreach { case (d, b) =>
      m.add(s"filter.batch$b.dropped", d.size.toLong)
      m.add(s"filter.batch$b.rows_out", size.batchDocs - d.size.toLong)
    }
    m.add("filter.reprobe.rows_out", reappearing.size.toLong)
    write(dir.resolve("manifest.json"), m.toJson)
    (m, Corpus(dups.toSet, contaminated.toSet, low.toSet, batchDups.toSeq, reappearing, q._1, query))
  }

  def parseTs(s: String): Option[Long] =
    Try(LocalDateTime.parse(s, RawTs).toEpochSecond(ZoneOffset.UTC)).toOption
}
