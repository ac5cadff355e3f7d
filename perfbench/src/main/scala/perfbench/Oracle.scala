package perfbench

import scala.collection.mutable

/** Replays the engine's step-1 and step-2 drop rules over generated cells,
  * row by row, to give the counts each stage must produce. It models only
  * what decides whether a row survives: sentinel and garbage cells read as
  * null, numeric nulls fill to 0, rows with a null key or an unparseable
  * timestamp drop, cpu rows with a null device drop, and a rate row needs a
  * previous sample, a gap of at least 0.1 s and a non-negative delta (cpu:
  * a positive total-jiffy delta). All counters are integers below 2^53, so
  * the sums and deltas are exact in doubles on both sides. */
object Oracle {

  final case class FrescoRow(job: String, host: String, tsMicros: Long, event: String)

  final case class Acct(idx: Int, jid: String, start: Long, end: Long)

  private def num(s: String): Double =
    if (Gen.Sentinels.contains(s)) 0.0 else s.toDoubleOption.getOrElse(0.0)

  private def key(s: String): Option[String] = if (Gen.Sentinels.contains(s)) None else Some(s)

  /** Step-1 job-id standardization (literal `jobID`→`JOB`, then `job`→`JOB`). */
  def standardize(j: String): String = j.replace("jobID", "JOB").replace("job", "JOB")

  /** Step-2 jid: trailing digits, else the whole id. */
  def normalize(j: String): String = {
    val d = j.reverse.takeWhile(_.isDigit).reverse
    if (d.isEmpty) j else d
  }

  private val EventOf = Map("block" -> "block", "cpu" -> "cpuuser", "llite" -> "nfs")

  /** One node file of one family (header row first) → its surviving FRESCO
    * rows; drop counts go to `m` under `<fam>.` and `<batch>.<fam>.`. */
  def step1(fam: String, rows: Seq[Array[String]], m: Manifest, batch: String): Seq[FrescoRow] = {
    val col = rows.head.zipWithIndex.toMap
    def add(k: String, n: Long): Unit = { m.add(s"$fam.$k", n); m.add(s"$batch.$fam.$k", n) }
    val parsed = rows.tail.flatMap { r =>
      for (j <- key(r(0)); n <- key(r(1)); t <- Gen.parseTs(r(2))) yield (j, n, t, r)
    }
    add("drop.null_key_or_ts", rows.size - 1L - parsed.size)
    val out: Seq[FrescoRow] = fam match {
      case "mem" =>
        parsed.flatMap { case (j, n, t, _) =>
          Seq("memused", "memused_minus_diskcache").map(FrescoRow(standardize(j), n, t * 1000000L, _))
        }
      case "cpu" =>
        val withDevice = parsed.filter(p => key(p._4(col("device"))).isDefined)
        add("drop.null_device", parsed.size.toLong - withDevice.size)
        val counters = Seq("user", "nice", "system", "idle", "iowait", "irq", "softirq").map(col)
        val summed = withDevice.groupBy(p => (p._1, p._2, p._3)).toSeq.map { case (k, ps) =>
          (k, counters.map(c => ps.map(p => num(p._4(c))).sum))
        }
        summed.groupBy(s => (s._1._1, s._1._2)).toSeq.flatMap { case (_, g) =>
          val sorted = g.sortBy(_._1._3)
          add("drop.first_sample", 1L)
          sorted.sliding(2).filter(_.size == 2).flatMap { case Seq(prev, cur) =>
            val totalD = cur._2.zip(prev._2).map { case (a, b) => a - b }.sum
            if (totalD > 0.0) Some(FrescoRow(standardize(cur._1._1), cur._1._2, cur._1._3 * 1000000L, "cpuuser"))
            else { add("drop.nonpositive_total", 1L); None }
          }.toSeq
        }
      case _ => // block (summed per timestamp over devices) and llite (per row)
        val totals: Seq[((String, String), Long, Double)] =
          if (fam == "block")
            parsed.groupBy(p => (p._1, p._2, p._3)).toSeq.map { case ((j, n, t), ps) =>
              ((j, n), t, ps.map(p => num(p._4(col("rd_sectors"))) + num(p._4(col("wr_sectors")))).sum)
            }
          else parsed.map(p => ((p._1, p._2), p._3,
            num(p._4(col("read_bytes"))) + num(p._4(col("write_bytes")))))
        totals.groupBy(_._1).toSeq.flatMap { case ((j, n), g) =>
          val sorted = g.sortBy(x => (x._2, x._3))
          add("drop.first_sample", 1L)
          sorted.sliding(2).filter(_.size == 2).flatMap { case Seq(prev, cur) =>
            if (cur._2 - prev._2 < 0.1) { add("drop.dt_lt_min", 1L); None }
            else if (cur._3 - prev._3 < 0.0) { add("drop.negative_delta", 1L); None }
            else Some(FrescoRow(standardize(j), n, cur._2 * 1000000L, EventOf(fam)))
          }.toSeq
        }
    }
    add("rows_out", out.size.toLong)
    out.groupBy(_.event).foreach { case (e, rs) => m.add(s"step1.event.$e", rs.size.toLong) }
    out
  }

  /** Accounting CSV rows as the reader keeps them: null for rows whose jid,
    * start or end is null after parsing. */
  def accounting(csv: String): Seq[Option[Acct]] = {
    val lines = csv.split('\n').toSeq
    val h = lines.head.split(',').zipWithIndex.toMap
    lines.tail.zipWithIndex.map { case (l, i) =>
      val c = l.split(",", -1)
      for {
        id <- key(c(h("jobID")))
        s <- Gen.parseTs(c(h("start")))
        e <- Gen.parseTs(c(h("end")))
      } yield Acct(i, normalize(id), s * 1000000L, e * 1000000L)
    }
  }

  /** Step 2 (event filter, interval join on `[start, end)`, job-aligned
    * 1-minute buckets) and step 3 row counts. */
  def step2(rows: Seq[FrescoRow], acct: Seq[Option[Acct]], m: Manifest): Unit = {
    val events = Gen.Events.toSet
    val in = rows.filter(r => events(r.event))
    m.add("step2.drop.event", rows.size.toLong - in.size)
    m.add("step2.fresco_in", in.size.toLong)
    m.add("acct.drop.null_key_or_ts", acct.count(_.isEmpty).toLong)
    val kept = acct.flatten
    val valid = kept.filter(a => a.start < a.end)
    m.add("acct.drop.start_ge_end", kept.size.toLong - valid.size)
    m.add("acct.rows", kept.size.toLong)
    val byJid = valid.groupBy(_.jid)
    var joined = 0L
    var outside = 0L
    val keys = mutable.HashSet.empty[(Int, String, Long)]
    in.foreach { r =>
      val hits = byJid.getOrElse(normalize(r.job), Nil)
        .filter(a => a.start <= r.tsMicros && r.tsMicros < a.end)
      if (hits.isEmpty) outside += 1
      joined += hits.size
      hits.foreach(a => keys += ((a.idx, r.host, Math.floorDiv(r.tsMicros - a.start, 60000000L))))
    }
    m.add("join.rows", joined)
    m.add("join.drop.outside_jobs", outside)
    m.add("step2.rows_out", keys.size.toLong)
    m.add("step3.rows_out", keys.size.toLong)
  }
}
