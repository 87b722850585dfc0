package lakebench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.TableIO

/** Tests of the benchmark's own helpers. Usage: SelfTest <work dir>.
  * Exits non-zero if any check fails.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    percentiles()
    intervals()
    spans()
    catalogMatchesBenchmarkJson()
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try generators(spark, work.toString) finally spark.stop()
    println(if (failures == 0) "all checks passed" else s"$failures check(s) failed")
    if (failures > 0) sys.exit(1)
  }

  def percentiles(): Unit = {
    check("p99 needs 1,000 samples")(
      Stats.supportedPercentile(1000).contains(99.0) &&
        Stats.supportedPercentile(999).contains(95.0))
    check("p90 needs 100 samples")(
      Stats.supportedPercentile(100).contains(90.0) &&
        Stats.supportedPercentile(99).contains(75.0))
    check("no percentile with fewer than 20 samples")(
      Stats.supportedPercentile(19).isEmpty && Stats.supportedPercentile(20).contains(50.0))
    check("every supported percentile leaves >= 10 samples beyond it")(
      (1 to 3000).forall(n => Stats.supportedPercentile(n).forall { p =>
        val xs = (1 to n).map(_.toDouble)
        xs.count(_ > Stats.percentile(xs, p)) >= Stats.MinBeyond
      }))
    check("nearest-rank percentile and interpolated median")(
      Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0 &&
        Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 &&
        math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
  }

  def intervals(): Unit = {
    check("union of overlapping, nested and disjoint intervals")(
      Stats.unionLength(Seq((10L, 30L), (20L, 40L), (25L, 26L), (50L, 60L))) == 40L &&
        Stats.unionLength(Nil) == 0L)
    check("driver gap is wall time minus the union of its jobs inside the op")(
      Stats.driverGap(0L, 100L,
        Seq((10L, 30L), (20L, 40L), (50L, 60L), (90L, 120L), (200L, 300L))) == 50L)
    check("an op with no jobs is all driver gap")(Stats.driverGap(5L, 9L, Nil) == 4L)
    check("steal share is the steal field's share of all CPU ticks")(
      Main.stealPct(Seq.fill(8)(100L), Seq(110L, 100L, 110L, 170L, 100L, 100L, 100L, 110L)) == 10.0 &&
        Main.stealPct(Nil, Nil) == 0.0)
  }

  def spans(): Unit = {
    val ss = Seq(
      Span(0, -1, "op", "op#1", 0L, 100L),
      Span(1, 0, "a", "op#1", 10L, 50L),
      Span(2, 0, "b", "op#1", 40L, 70L),
      Span(3, 1, "a1", "op#1", 20L, 30L),
      Span(4, 0, "late", "op#1", 90L, 130L))
    val self = Span.selfTimes(ss)
    check("span self time excludes the time its children cover")(
      self == Map(0 -> 30L, 1 -> 30L, 2 -> 30L, 3 -> 10L, 4 -> 40L))
  }

  def catalogMatchesBenchmarkJson(): Unit = {
    val f = Paths.get("BENCHMARK.json")
    check("BENCHMARK.json names the catalog's workloads and metrics") {
      val j = new ObjectMapper().readTree(f.toFile)
      def defs(key: String) = j.get(key).elements().asScala.toSeq.map(m =>
        (m.get("name").asText, m.get("unit").asText, m.get("better").asText))
      def expect(ms: Seq[MetricDef]) = ms.map(m => (m.name, m.unit, m.better))
      val workloads = j.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
      workloads == Workloads.names && defs("end_to_end") == expect(Catalog.endToEnd) &&
        defs("per_layer") == expect(Catalog.perLayer)
    }
  }

  private def sha(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).mkString("\n").getBytes("UTF-8")
    MessageDigest.getInstance("SHA-256").digest(rows).map("%02x".format(_)).mkString
  }

  def generators(spark: SparkSession, work: String): Unit = {
    def inputs(seed: Long) = Seq(
      Inputs.posDeletes(spark, seed, 3, 1000L, 20),
      Inputs.eqDeletes(spark, seed, 3000L, 20),
      Inputs.cdcFrame(spark, Inputs.cdcBatch(seed, 3, 3000L, 100), 3L),
      Inputs.documents(spark, seed, 400L, 4),
      Inputs.embeddings(spark, seed, 100L, 8, 4))
    val a = inputs(7L).map(sha)
    check("seeded generators reproduce their rows byte for byte")(a == inputs(7L).map(sha))
    check("another seed gives other rows")(a.zip(inputs(8L).map(sha)).forall(p => p._1 != p._2))
    check("position deletes are about 1 in 20 of each file's positions") {
      val n = Inputs.posDeletes(spark, 7L, 3, 1000L, 20).count()
      n > 100 && n < 200
    }
    check("a CDC batch touches distinct keys: 80% updates, 10% inserts, 10% deletes") {
      val b = Inputs.cdcBatch(7L, 3, 3000L, 100)
      val byKey = b.groupBy(_.bar).map { case (k, cs) => k -> cs.map(_.kind) }
      byKey.size == 100 && byKey.values.count(_ == Seq("delete", "insert")) == 80 &&
        byKey.count { case (k, ks) => k >= 3000 && ks == Seq("insert") } == 10 &&
        byKey.count { case (k, ks) => k < 3000 && ks == Seq("delete") } == 10
    }
    check("the driver-side row hash equals Spark's xxhash64 of the row") {
      val df = spark.createDataFrame(Seq(("v1-7", 7, false), ("12", 12, true), ("", -3, true)))
        .toDF("foo", "bar", "baz")
      val got = df.collect().map(r => Inputs.rowHash(r.getString(0), r.getInt(1), r.getBoolean(2)))
      val want = df.select(org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.struct("foo", "bar", "baz"))).collect().map(_.getLong(0))
      got.toSeq == want.toSeq
    }
    check("seeded delete files are byte-identical across writes") {
      val bytes = (1 to 2).map { i =>
        val e = TableIO.writeExactFile(spark, work, "t", s"w$i", "pos.parquet",
          Inputs.posDeletes(spark, 7L, 3, 1000L, 20), "pos_delete", 1L)
        Files.readAllBytes(TableIO.tableDir(work, "t", s"w$i").resolve(e.path)).toSeq
      }
      bytes(0) == bytes(1)
    }
    check("checksum ignores row order and counts duplicates") {
      val df = Inputs.rows(spark.range(0L, 50L).toDF())
      Inputs.checksum(df) == Inputs.checksum(df.orderBy(df("bar").desc)) &&
        Inputs.checksum(df.union(df.limit(1))) != Inputs.checksum(df)
    }
  }
}
