package lakebench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.CacheScope
import graft.operators.{Dedup, PipelineOps, Similarity, TextAnalysis}
import graft.plans.{Maintenance, ManifestEntry, Mor, Pipeline, TableIO}
import graft.sources.{FileConfig, FixSchemaGen, GenConfig}
import graft.streaming.Replication

/** Shared state of one run: the session, the harness, the seed, and
  * where set-up figures go.
  */
final class Ctx(val spark: SparkSession, val h: Harness, val seed: Long) {
  val setupMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var rowsGenerated = 0L

  /** Time a set-up step (not an op: a set-up failure aborts the run). */
  def setupStep[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally setupMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e6
  }
}

/** One workload: set-up (fixtures, oracles and untimed warm-up
  * cycles), then timed cycles in a closed loop with one client.
  */
trait Workload {
  /** The one or two op types whose median latencies make `op_p50_ms`
    * (their geometric mean).
    */
  def primaryOps: Seq[String]
  def sizes: Seq[(String, Long)]
  /** Untimed cycles at the end of set-up, counted in `setup_s`. Op
    * latencies fall for several cycles after the session starts (the
    * second cycle is still 15-30% slower than the fifth on a 4-core
    * host), so the timed loop starts only after three.
    */
  def warmups: Int = 3
  def setup(): Unit
  def cycle(): Unit
  /** Checked ops after the timed loop whose figures are per-layer only:
    * they weigh on no end-to-end metric.
    */
  def probe(): Unit = ()
  /** Per-layer figures this workload owns. */
  def metrics(put: (String, Double) => Unit): Unit
}

object Workloads {
  val names: Seq[String] = Seq("mor_read", "cdc_ingest", "llm_curate")

  def apply(name: String, c: Ctx, root: String): Workload = name match {
    case "mor_read" => new MorRead(c, root)
    case "cdc_ingest" => new CdcIngest(c, root)
    case "llm_curate" => new LlmCurate(c, root)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${names.mkString(", ")})")
  }

  /** Median of a sample, or None when it has no values. */
  def med(xs: Iterable[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(Stats.median(xs.toSeq))

  def med(h: Harness, name: String): Option[Double] = h.samples.get(name).flatMap(med(_))

  def isDelete(e: ManifestEntry): Boolean = e.content.endsWith("_delete")

  def dirBytes(p: Path): Long =
    if (!Files.isDirectory(p)) 0L
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(Files.size).sum finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  def mismatch[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  /** Run a MOR read as op `name`: the `Mor` call is the `plan` span, the
    * checksum action the `action` span; the checksum must equal `want`.
    */
  def morRead(h: Harness, name: String, want: (Long, Long))(df: => DataFrame): Unit =
    h.op(name) {
      val d = h.span("plan")(df)
      h.span("action")(Inputs.checksum(d))
    }(got => mismatch(s"$name (rows, xor)", got, want))
}

/** Read-only MOR scans of a small reference table, bound by fixed
  * per-read cost, and a bulk table, bound by scan, deletion vectors and
  * the equality-delete anti-join.
  */
final class MorRead(c: Ctx, root: String) extends Workload {
  import Workloads._
  private val (s, h) = (c.spark, c.h)
  val files = 16
  val rpf = 250000L
  val every = 20 // ~5% position deletes per file, ~5% equality-deleted keys
  private val ref = GenConfig.reference
  private val big = GenConfig("lb", "big", FileConfig(rpf, files),
    FileConfig(0L, 0), FileConfig(0L, 0))
  private var vData, vPos = 0L
  private var oracle: Map[Int, Seq[(Long, Long)]] = Map.empty
  private var refExpected = (0L, 0L)
  private var cycleNo = 0

  def primaryOps: Seq[String] = Seq("read_ref", "read_big")
  def sizes: Seq[(String, Long)] = Seq("big_files" -> files, "big_rows_per_file" -> rpf,
    "delete_one_in" -> every, "ref_rows" -> ref.data.totalRows)

  def setup(): Unit = {
    c.setupStep("pipeline.prepare_data_ms")(Pipeline.prepareData(s, root, ref))
    c.setupStep("pipeline.prepare_deletes_ms")(Pipeline.prepareDeletes(s, root, ref))
    vData = c.setupStep("pipeline.prepare_bulk_ms")(Pipeline.prepareBulkData(s, root, big))
    val (ns, t) = (big.namespace, big.tableName)
    val (pos, eq) = c.setupStep("tableio.write_deletes_ms") {
      val pos = TableIO.writeExactFile(s, root, ns, t, "deletes/pos-00000.parquet",
        Inputs.posDeletes(s, c.seed, files, rpf, every), "pos_delete", 2L)
      vPos = TableIO.commit(root, ns, t, Seq(pos))
      val eq = TableIO.writeExactFile(s, root, ns, t, "deletes/eq-00000.parquet",
        Inputs.eqDeletes(s, c.seed, files * rpf, every), "eq_delete", 3L)
      TableIO.commit(root, ns, t, Seq(eq))
      (pos, eq)
    }
    c.rowsGenerated += ref.data.totalRows + ref.actualPosDeletes + ref.actualEqDeletes +
      files * rpf + pos.recordCount + eq.recordCount
    oracle = c.setupStep("oracle_ms")(Inputs.bulkOracle(s,
      TableIO.tableDir(root, ns, t).resolve("data").toString, c.seed, every))
    refExpected = c.setupStep("oracle_ms")(Inputs.checksum(Inputs.rows(s.range(4000L, 5000L).toDF())))
  }

  private def part(i: Int): (Long, Long) = Inputs.combine(oracle.values.map(_(i)))

  def cycle(): Unit = {
    val (ns, t) = (big.namespace, big.tableName)
    morRead(h, "read_ref", refExpected)(Mor.read(s, root, ref.namespace, ref.tableName))
    morRead(h, "read_scan", part(0))(Mor.readAt(s, root, ns, t, vData))
    morRead(h, "read_dv", part(1))(Mor.readAt(s, root, ns, t, vPos))
    morRead(h, "read_big", part(2))(Mor.read(s, root, ns, t))
    // one file's key range, a different file each cycle
    val f = ((c.seed + cycleNo * 5L) % files).toInt
    val (lo, hi) = (f * rpf, (f + 1) * rpf - 1)
    morRead(h, "read_pruned", oracle(f)(2))(
      Mor.read(s, root, ns, t, prune = Seq(Mor.Prune("bar", lo, hi)))
        .filter(col("bar").between(lo, hi)))
    cycleNo += 1
  }

  def metrics(put: (String, Double) => Unit): Unit = {
    Seq("ref" -> "read_ref", "big" -> "read_big", "scan" -> "read_scan",
      "pruned" -> "read_pruned").foreach { case (k, op) => med(h, op).foreach(put(s"mor.${k}_ms", _)) }
    def diff(a: String, b: String) = for (x <- med(h, a); y <- med(h, b)) yield x - y
    diff("read_dv", "read_scan").foreach(put("mor.dv_ms", _))
    diff("read_big", "read_dv").foreach(put("mor.eq_join_ms", _))
    val m = TableIO.readManifest(root, big.namespace, big.tableName)
    put("mor.data_files", m.count(_.content == "data").toDouble)
    put("mor.delete_files", m.count(isDelete).toDouble)
  }
}

/** CDC micro-batches applied through `Replication.applyChanges` beside
  * MOR reads of the same table, with a compaction at the end of each
  * cycle. Reads get slower as equality-delete files pile up within a
  * cycle; compaction resets them. After the timed loop, a [[CommitLog]]
  * probe measures the commit path on its own.
  */
final class CdcIngest(c: Ctx, root: String) extends Workload {
  import Workloads._
  private val (s, h) = (c.spark, c.h)
  val files = 4
  val rpf = 50000L
  val keysPerBatch = 500
  val batchesPerCycle = 6
  val readEvery = 2
  private val cfg = GenConfig("lb", "target", FileConfig(rpf, files),
    FileConfig(0L, 0), FileConfig(0L, 0))
  private val (ns, t) = (cfg.namespace, cfg.tableName)
  private val n = files * rpf
  private var batchNo = 0
  private var base = (0L, 0L)
  // the replayed state of every key a batch touched: its row, or None once deleted
  private val state = mutable.HashMap.empty[Int, Option[(String, Boolean)]]
  private val rowsIn = mutable.ArrayBuffer.empty[Double]
  private val deleteFilesAtRead = mutable.ArrayBuffer.empty[Double]
  private val compactions = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private val commitLog = new CommitLog(c, root)

  def primaryOps: Seq[String] = Seq("cdc_batch", "read_after_write")
  def sizes: Seq[(String, Long)] = Seq[(String, Long)]("target_files" -> files,
    "target_rows_per_file" -> rpf, "keys_per_batch" -> keysPerBatch,
    "batches_per_cycle" -> batchesPerCycle, "read_every" -> readEvery) ++ commitLog.sizes

  def setup(): Unit = {
    c.setupStep("pipeline.prepare_bulk_ms")(Pipeline.prepareBulkData(s, root, cfg))
    c.rowsGenerated += n
    base = c.setupStep("oracle_ms")(Inputs.checksum(Inputs.rows(s.range(0L, n).toDF())))
  }

  /** The table's checksum from the base checksum and the replayed changes. */
  private def expected: (Long, Long) = state.foldLeft(base) { case ((cnt, x), (k, cur)) =>
    val (c1, x1) = if (k < n) (cnt - 1, x ^ Inputs.rowHash(k.toString, k, true)) else (cnt, x)
    cur.fold((c1, x1)) { case (foo, baz) => (c1 + 1, x1 ^ Inputs.rowHash(foo, k, baz)) }
  }

  private def batch(): Unit = {
    batchNo += 1
    val changes = Inputs.cdcBatch(c.seed, batchNo, n, keysPerBatch)
    val df = Inputs.cdcFrame(s, changes, batchNo.toLong)
    val done = h.op("cdc_batch")(Replication.applyChanges(s, root, ns, t, df, Seq("bar"))) { v =>
      if (v < 0) Some("a non-empty batch made no commit") else None
    }
    if (done.nonEmpty) {
      rowsIn += changes.size.toDouble
      changes.foreach(ch => state(ch.bar) = if (ch.kind == "insert") Some((ch.foo, ch.baz)) else None)
    }
  }

  private def read(): Unit = {
    deleteFilesAtRead += TableIO.readManifest(root, ns, t).count(isDelete).toDouble
    morRead(h, "read_after_write", expected)(Mor.read(s, root, ns, t))
  }

  private def compact(): Unit = {
    val dir = TableIO.tableDir(root, ns, t)
    val before = TableIO.readManifest(root, ns, t).count(_.content == "data")
    val rows = expected._1
    h.op("compact")(Maintenance.compact(s, root, ns, t)) { _ =>
      val after = TableIO.readManifest(root, ns, t)
      val data = after.filter(_.content == "data")
      compactions += ((before.toDouble, data.size.toDouble,
        data.map(e => Files.size(dir.resolve(e.path))).sum.toDouble))
      mismatch("delete files after compaction", after.count(isDelete), 0)
        .orElse(mismatch("rows after compaction", data.map(_.recordCount).sum, rows))
    }
  }

  def cycle(): Unit = {
    (1 to batchesPerCycle).foreach { i =>
      batch()
      if (i % readEvery == 0) read()
    }
    compact()
  }

  override def probe(): Unit = commitLog.run()

  def metrics(put: (String, Double) => Unit): Unit = {
    commitLog.metrics(put)
    med(h, "cdc_batch").foreach(put("replication.apply_ms", _))
    med(rowsIn).foreach(put("replication.rows_in", _))
    med(h, "compact").foreach(put("maintenance.compact_ms", _))
    med(compactions.map(_._1)).foreach(put("maintenance.files_before", _))
    med(compactions.map(_._2)).foreach(put("maintenance.files_after", _))
    med(compactions.map(_._3)).foreach(put("maintenance.bytes_rewritten", _))
    med(deleteFilesAtRead).foreach(put("mor.read_after_write.delete_files", _))
  }
}

/** The LLM-curation operators on seeded inputs: a pass of four text ops
  * over documents with exact, near and distinct copies, and a pass of
  * the job-bound IVF-PQ top-k over clustered embeddings. Each op's
  * action is an all-column checksum, which must repeat exactly across
  * passes.
  */
final class LlmCurate(c: Ctx, root: String) extends Workload {
  import Workloads._
  private val (s, h) = (c.spark, c.h)
  val docs = 4000L
  val copies = 4
  val vectors = 1000L
  val dims = 32
  val clusters = 64
  private var d: DataFrame = _
  private var e: DataFrame = _
  private val first = mutable.HashMap.empty[String, (Long, Long)]

  private val textOps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "text_quality" -> (x => TextAnalysis.quality(x)),
    "dedup_exact" -> (x => Dedup.exact(x)),
    "dedup_minhash_lsh" -> (x => Dedup.minhashLsh(x)),
    "pipe_decontaminate" -> (x => PipelineOps.decontaminate(x)))
  // Dedup.semanticAuto and Similarity.knnJoin are left out: with them a
  // warm vector pass over 1,000 vectors took 10 s instead of 4.5 s
  private val vectorOps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "ann_ivfpq" -> (x => Similarity.ivfPqTopK(x)))
  val opNames: Seq[String] = (textOps ++ vectorOps).map(_._1)

  def primaryOps: Seq[String] = Seq("text_pass", "vector_pass")
  def sizes: Seq[(String, Long)] = Seq("documents" -> docs, "copies" -> copies,
    "vectors" -> vectors, "dims" -> dims, "clusters" -> clusters)

  def setup(): Unit = c.setupStep("sources.generate_ms") {
    val dir = Paths.get(root, "llm")
    Inputs.documents(s, c.seed, docs, copies).write.parquet(dir.resolve("documents").toString)
    Inputs.embeddings(s, c.seed, vectors, dims, clusters).write.parquet(dir.resolve("embeddings").toString)
    d = s.read.parquet(dir.resolve("documents").toString)
    e = s.read.parquet(dir.resolve("embeddings").toString)
    c.rowsGenerated += docs + vectors
  }

  /** One pass: every op in turn; its wall time is a `sample` sample
    * when every op in it succeeded.
    */
  private def pass(sample: String, ops: Seq[(String, DataFrame => DataFrame)],
      in: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val ok = ops.map { case (name, f) =>
      h.op(name) {
        try Inputs.checksum(h.span("build")(f(in))) finally CacheScope.drain()
      } { got =>
        val want = first.getOrElseUpdate(name, got)
        mismatch(s"$name (rows, xor) against the first pass", got, want)
      }.nonEmpty
    }.forall(identity)
    if (ok) h.record(sample, (System.nanoTime() - t0) / 1e6)
  }

  def cycle(): Unit = {
    pass("text_pass", textOps, d)
    pass("vector_pass", vectorOps, e)
  }

  def metrics(put: (String, Double) => Unit): Unit =
    opNames.foreach(op => med(h, op).foreach(put(s"op.${op}_ms", _)))
}

/** One-file fast-append commits onto a table with a long history; no
  * Spark job runs. All of the work is in the commit and manifest layer,
  * which is single-threaded and CPU-bound, so its latency follows the
  * host's CPU speed from minute to minute: too closely to hold an
  * end-to-end bound, so its figures are per-layer only. Each round
  * seeds a fresh table so every round commits onto the same history
  * length; the first round warms the JIT and is not reported.
  */
final class CommitLog(c: Ctx, root: String) {
  import Workloads._
  private val (s, h) = (c.spark, c.h)
  val history = 1000
  val commitsPerRound = 250
  val rounds = 2
  val metaEvery = 50
  val fileRows = 100L
  private val ns = "lb"
  private var source: Path = _
  private var linkNo = 0
  private var roundNo = 0
  private val bytesPerCommit = mutable.ArrayBuffer.empty[Double]
  private var lastEntries = 0
  private val ops = Seq("commit", "read_manifest", "current_version", "count_from_metadata")

  def sizes: Seq[(String, Long)] = Seq("log_history_entries" -> history,
    "log_commits_per_round" -> commitsPerRound, "log_rounds" -> rounds, "log_file_rows" -> fileRows)

  def run(): Unit = {
    val e = TableIO.writeExactFile(s, root, ns, "source", "one.parquet",
      FixSchemaGen.dataFile(s, 0, fileRows), "data", 1L, fileRows)
    source = TableIO.tableDir(root, ns, "source").resolve(e.path)
    (1 to rounds).foreach { r =>
      if (r == rounds) { ops.foreach(h.samples.remove); bytesPerCommit.clear() }
      round()
    }
  }

  /** A new hard link to the source file, under a unique name. */
  private def link(t: String): ManifestEntry = {
    linkNo += 1
    val rel = f"data/log-$linkNo%07d.parquet"
    Files.createLink(TableIO.tableDir(root, ns, t).resolve(rel), source)
    ManifestEntry(rel, "data", 1L, fileRows, Map("bar" -> (0L, fileRows - 1)))
  }

  private def round(): Unit = {
    roundNo += 1
    val t = s"log$roundNo"
    val dir = TableIO.tableDir(root, ns, t)
    TableIO.createNamespace(root, ns)
    TableIO.createTableIfNotExists(root, ns, t, FixSchemaGen.dataSchema)
    Files.createDirectories(dir.resolve("data"))
    var version = TableIO.commit(root, ns, t, (1 to history).map(_ => link(t)))
    val bytes0 = dirBytes(dir.resolve("manifest"))
    (1 to commitsPerRound).foreach { i =>
      val e = link(t)
      h.op("commit")(TableIO.commit(root, ns, t, Seq(e))) { v =>
        val bad = mismatch("committed version", v, version + 1)
        version = v
        bad
      }
      if (i % metaEvery == 0) {
        h.op("read_manifest")(TableIO.readManifest(root, ns, t))(_ => None)
        h.op("current_version")(TableIO.currentVersion(root, ns, t))(v =>
          mismatch("current version", v, version))
        h.op("count_from_metadata")(Mor.countFromMetadata(root, ns, t))(n =>
          mismatch("metadata count", n, Some((history + i) * fileRows)))
      }
    }
    bytesPerCommit += (dirBytes(dir.resolve("manifest")) - bytes0).toDouble / commitsPerRound
    h.op("commit_check")(TableIO.readManifest(root, ns, t)) { m =>
      lastEntries = m.size
      val ranges = m.flatMap(e => e.firstRowId.map(r => (r, r + e.recordCount))).sortBy(_._1)
      mismatch("manifest entries", m.size, history + commitsPerRound)
        .orElse(mismatch("entries with a firstRowId", ranges.size, m.size))
        .orElse(ranges.zip(ranges.drop(1)).collectFirst {
          case (a, b) if b._1 < a._2 => s"firstRowId ranges overlap: $a and $b"
        })
    }
    TableIO.dropTable(root, ns, t)
  }

  def metrics(put: (String, Double) => Unit): Unit = {
    val commits = h.samples.get("commit").map(_.toSeq).getOrElse(Nil)
    med(h, "commit").foreach(put("tableio.commit_ms", _))
    Stats.supportedPercentile(commits.size).foreach(p =>
      put("tableio.commit_tail_ms", Stats.percentile(commits, p)))
    med(bytesPerCommit).foreach(put("tableio.manifest_bytes_per_commit", _))
    if (lastEntries > 0) put("tableio.manifest_entries", lastEntries.toDouble)
    Seq("read_manifest", "current_version", "count_from_metadata").foreach(op =>
      med(h, op).foreach(put(s"tableio.${op}_ms", _)))
  }
}
