package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def fresh(name: String): Path = {
    val d = Paths.get("target", "gen-spec", name).toAbsolutePath
    Tree.delete(d)
    Files.createDirectories(d)
  }

  private def files(dir: Path, suffix: String): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(suffix)).toSeq.sortBy(_.toString) finally s.close()
  }

  private def csvRows(p: Path): Long = Files.readAllLines(p, UTF_8).size - 1L

  private def parquetRows(p: Path): Long = {
    val r = ParquetFileReader.open(new LocalInputFile(p))
    try r.getRecordCount finally r.close()
  }

  test("the same seed gives byte-identical inputs; another seed does not") {
    Workloads.all.foreach { wl =>
      val a = fresh(s"${wl.name}-a"); val b = fresh(s"${wl.name}-b"); val c = fresh(s"${wl.name}-c")
      wl.generate(a, 7L); wl.generate(b, 7L); wl.generate(c, 8L)
      assert(Tree.digest(a) == Tree.digest(b), wl.name)
      assert(Tree.digest(a) != Tree.digest(c), wl.name)
    }
  }

  test("fresco manifest counts equal a direct count of the generated files") {
    val d = fresh("fresco-count")
    val m = Fresco.generate(d, 3L)
    for (b <- Seq("a", "b"); f <- Seq("block", "cpu", "llite", "mem")) {
      val n = files(d.resolve(s"$b/$f"), ".csv").map(csvRows).sum
      assert(n == m(s"$b.raw.$f"), s"$b/$f")
    }
    assert(files(d.resolve("rounds"), ".parquet").map(parquetRows).sum == m("raw.landed"))
    assert(csvRows(d.resolve("accounting.csv")) == m("raw.accounting"))
    // llite rows are not aggregated, so each is kept or dropped by exactly
    // one named rule; mem rows become two events each
    val lliteDrops = m.keys.filter(_.startsWith("llite.drop.")).map(m(_)).sum
    assert(m("llite.rows_out") + lliteDrops == m("raw.llite"))
    assert(m("mem.rows_out") == 2 * (m("raw.mem") - m("mem.drop.null_key_or_ts")))
    assert(m("step2.fresco_in") + m("step2.drop.event") == m("step1.rows_out") + m("raw.landed"))
    assert(m("acct.rows") + m("acct.drop.null_key_or_ts") == m("raw.accounting"))
  }

  test("corpus manifest counts equal a direct count of the generated files") {
    val d = fresh("corpus-count")
    val m = CorpusIngest.generate(d, 3L)
    assert(files(d.resolve("docs"), ".parquet").map(parquetRows).sum == m("raw.docs"))
    val batches = (0 until CorpusIngest.size.batches).map(b => files(d.resolve(s"batch$b"), ".parquet").map(parquetRows).sum)
    assert(batches.sum == m("raw.batch_docs"))
    assert(m("curate.rows_out") + m("curate.drop.near_dup") + m("curate.drop.contaminated") +
      m("curate.drop.low_quality") == m("raw.docs"))
    (0 until CorpusIngest.size.batches).foreach { b =>
      assert(m(s"filter.batch$b.rows_out") + m(s"filter.batch$b.dropped") == batches(b))
    }
  }
}

class SelfTimeSpec extends AnyFunSuite {

  test("self time is the parent minus the union of its children") {
    assert(SelfTime.selfNs((0, 100), Nil) == 100)
    assert(SelfTime.selfNs((0, 100), Seq((10, 20), (30, 50))) == 70)
    // overlapping children count once
    assert(SelfTime.selfNs((0, 100), Seq((10, 40), (30, 60), (55, 70))) == 40)
    // a child nested in another adds nothing
    assert(SelfTime.selfNs((0, 100), Seq((10, 60), (20, 30))) == 50)
    // children are clipped to the parent
    assert(SelfTime.selfNs((50, 100), Seq((0, 60), (90, 200))) == 30)
    assert(SelfTime.selfNs((0, 100), Seq((0, 100), (20, 40))) == 0)
    assert(SelfTime.selfNs((0, 100), Seq((200, 300))) == 100)
  }

  test("the low median takes the lower middle value of an even count") {
    assert(Stats.lowMedian(Seq(8.0, 16.0)) == 8.0)
    assert(Stats.lowMedian(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.lowMedian(Seq(5.0)) == 5.0)
  }

  test("apportioned layers sum to the fused prefix") {
    val fused = LayerStat(wallNs = 1000, res = Res(cpuNs = 600))
    val parts = Seq("read" -> LayerStat(wallNs = 300, res = Res(cpuNs = 100)),
      "transform" -> LayerStat(wallNs = 900, res = Res(cpuNs = 200)),
      "noise" -> LayerStat(wallNs = -50, res = Res(cpuNs = -5)))
    val out = Workloads.apportion(fused, parts).toMap
    assert(out.values.map(_.wallNs).sum == 1000)
    assert(out.values.map(_.res.cpuNs).sum == 600)
    assert(out("noise").wallNs == 0)
    assert(out("read").wallNs == 250 && out("transform").wallNs == 750)
  }
}
