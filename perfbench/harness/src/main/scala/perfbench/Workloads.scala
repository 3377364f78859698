package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.{CurationPipeline, Pipeline}
import graft.config.PipelineConfig
import graft.ingest.{Checkpoint, ParquetIngestor}
import graft.load.Loader
import graft.model.{PipelineResult, Schemas}

/** Shared state of one benchmark JVM. */
final class Ctx(val spark: SparkSession, val args: Args,
    val tracer: Option[Tracer]) {
  val inputs: Path = Tree.path(args.inputs)
  val work: Path = Tree.path(args.work)
  val truth = Tree.readJson(inputs.resolve("truth.json"))
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"perfbench: CHECK FAILED: $msg")
  }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
}

/** One workload: an untimed `before`, the timed `op`, an untimed
  * `after` that checks the output. */
abstract class Workload(val c: Ctx) {
  val cfg: PipelineConfig = PipelineConfig.default
  def before(i: Int): Unit = ()
  def op(i: Int, sp: Option[Spans]): Any
  /** Checks op i's output; returns fields for its record. */
  def after(i: Int, traced: Boolean, res: Any): Map[String, Any]
  /** Lookups after the ops, when the workload has a read path. */
  def reads(): Map[String, Any] = Map.empty
}

object Runner {

  /** Runs the cold op and `warmup` untimed warm-up ops, then warm ops
    * while the next one is expected to end within `seconds` (it is
    * expected to take as long as the last one, with its restore and
    * checks), and at least `minWarm` of them; then the workload's reads.
    * Warm-up ops are checked like every op and marked `warmup`. In a
    * traced run the cold op is traced and warm ops alternate between
    * the program (untraced) and the traced replica in the order
    * U T T U, so that JIT warm-up drift falls on both sides equally;
    * `minWarm` of each. */
  def run(w: Workload, seconds: Double, minWarm: Int, warmup: Int): Map[String, Any] = {
    val c = w.c
    val traced = c.tracer.isDefined
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    ops += runOp(w, 0, traced)
    for (j <- 1 to warmup) ops += runOp(w, j, false) + ("warmup" -> true)
    val t0 = System.nanoTime
    var last = 0.0
    var i = warmup + 1
    def elapsed = (System.nanoTime - t0) / 1e9
    def warmDone = i - warmup - 1 >= minWarm * (if (traced) 2 else 1)
    while (!warmDone || elapsed + last <= seconds) {
      val s = elapsed
      val k = i - warmup
      ops += runOp(w, i, traced && (k % 4 == 2 || k % 4 == 3))
      last = elapsed - s
      i += 1
    }
    Map("ops" -> ops.toSeq, "reads" -> w.reads())
  }

  def runOp(w: Workload, i: Int, traced: Boolean): Map[String, Any] = {
    val c = w.c
    c.attempted += 1
    val b0 = System.nanoTime
    w.before(i)
    val restoreS = (System.nanoTime - b0) / 1e9
    val gc0 = Tracer.gcMs
    val jit0 = Tracer.jitMs
    val ms0 = System.currentTimeMillis
    val t0 = System.nanoTime
    var root: Option[Span] = None
    val res: Either[Throwable, Any] =
      try Right(c.tracer.filter(_ => traced) match {
        case Some(t) => t.span("op", i) {
          root = t.spans.lastOption
          w.op(i, Some(new OpSpans(t, i)))
        }
        case None => w.op(i, None)
      })
      catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime - t0) / 1e9
    val ms1 = System.currentTimeMillis
    val rec = mutable.LinkedHashMap[String, Any](
      "index" -> i, "traced" -> traced, "wall_s" -> wall, "restore_s" -> restoreS,
      "gc_s" -> (Tracer.gcMs - gc0) / 1e3, "jit_s" -> (Tracer.jitMs - jit0) / 1e3)
    for (t <- c.tracer if traced; r <- root) {
      val layers = t.layerTotals(i, r)
      rec("layers") = layers
      rec("driver_only_s") = wall - t.busyMs(ms0, ms1) / 1e3
      val spanSum = layers.collect { case (k, v) if k.endsWith(".s") => v }.sum
      rec("coverage") = spanSum / ((r.endNs - r.startNs) / 1e9)
    }
    res match {
      case Left(e) =>
        c.fail(s"op $i threw ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        rec("failed") = true
      case Right(v) =>
        val before = c.failures.size
        val a0 = System.nanoTime
        try rec ++= w.after(i, traced, v)
        catch { case e: Throwable =>
          c.fail(s"op $i check threw ${e.getClass.getName}: ${e.getMessage}")
        }
        rec("check_s") = (System.nanoTime - a0) / 1e9
        rec("failed") = c.failures.size > before
    }
    rec.toMap
  }
}

/** Shared pipeline-workload checks. */
abstract class PipelineWorkload(c0: Ctx) extends Workload(c0) {
  def raw: Path = c.inputs.resolve("raw")
  def outOf(i: Int): Path
  def report: Path = c.work.resolve("report")

  def runPipeline(i: Int, sp: Option[Spans], force: Boolean)
      : (PipelineResult, Option[Replica.PipelineSeen]) = sp match {
    case None => (Pipeline.run(c.spark, raw.toString, outOf(i).toString,
      Some(report.toString), cfg, force), None)
    case Some(s) =>
      val (r, seen) = Replica.pipeline(s, c.spark, raw.toString,
        outOf(i).toString, Some(report.toString), cfg, force)
      (r, Some(seen))
  }

  /** `_validation_metadata.json` against an independent java.nio walk. */
  def checkMetadata(i: Int, out: Path, stored: Long): Unit = {
    val md = Tree.readJson(out.resolve("_validation_metadata.json"))
    val ss = md.get("storage_stats")
    val walk = Tree.stats(out)
    c.check(ss.get("total_files").asLong == walk.files,
      s"op $i: metadata total_files ${ss.get("total_files")} != walk ${walk.files}")
    c.check(ss.get("total_bytes").asLong == walk.bytes,
      s"op $i: metadata total_bytes ${ss.get("total_bytes")} != walk ${walk.bytes}")
    c.check(ss.get("partitions").asLong == walk.partitions,
      s"op $i: metadata partitions ${ss.get("partitions")} != walk ${walk.partitions}")
    c.check(ss.get("records_stored").asLong == stored,
      s"op $i: metadata records_stored ${ss.get("records_stored")} != $stored")
  }

  /** What the replica must reproduce: rows per partition, metadata
    * (minus its timestamp and byte count) and an order-independent hash
    * of every stored column except the validation timestamp. */
  def signature(out: Path): Map[String, Any] = {
    val md = Tree.readJson(out.resolve("_validation_metadata.json"))
    val mdFields = md.fieldNames.asScala.toSeq
      .filterNot(_ == "validation_timestamp").map(k => k -> md.get(k).toString)
      .toMap + ("storage_stats" ->
        Seq("records_stored", "total_files", "partitions")
          .map(k => md.get("storage_stats").get(k).asLong))
    val df = c.spark.read.parquet(out.toString).drop("validation_timestamp")
    val hash = df.select(sum(xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*)
      .cast("decimal(38,0)"))).head().get(0).toString
    Map("partitions" -> Tree.rowsByPartition(out), "metadata" -> mdFields,
      "content" -> hash)
  }

  private var lastProgram: Option[Map[String, Any]] = None

  /** In a traced run, compares each replica op with the program op before it. */
  def compareReplica(i: Int, traced: Boolean, out: Path): Map[String, Any] =
    if (c.tracer.isEmpty) Map.empty
    else {
      val sig = signature(out)
      if (!traced) { lastProgram = Some(sig); Map.empty }
      else lastProgram match {
        case Some(p) =>
          val same = p == sig
          c.check(same, s"op $i: REPLICA DRIFT: the traced replica of " +
            "Pipeline.run stored different rows or metadata than the program")
          Map("replica_match" -> same)
        case None => Map.empty
      }
    }
}

final class Backfill(c0: Ctx) extends PipelineWorkload(c0) {
  private val expected = c.truth.get("expected_rows").asLong
  def outOf(i: Int): Path = c.work.resolve(s"out_$i")

  override def before(i: Int): Unit = Tree.deleteRecursively(outOf(i))

  def op(i: Int, sp: Option[Spans]): Any = runPipeline(i, sp, force = true)

  def after(i: Int, traced: Boolean, res: Any): Map[String, Any] = {
    val (r, seen) = res.asInstanceOf[(PipelineResult, Option[Replica.PipelineSeen])]
    val out = outOf(i)
    c.check(r.success, s"op $i: success=false")
    c.check(r.recordsStored == expected,
      s"op $i: stored ${r.recordsStored} rows, ground truth $expected")
    val footer = Tree.rowsByPartition(out).values.sum
    c.check(footer == expected, s"op $i: footers hold $footer rows, ground truth $expected")
    checkMetadata(i, out, r.recordsStored)
    if (i == 0) checkRejects()
    seen.foreach { s =>
      c.check(s.filesRejected == 2, s"op $i: ingest rejected ${s.filesRejected} files, expected 2")
    }
    val walk = Tree.stats(out)
    val cmp = compareReplica(i, traced, out)
    // keep the previous op's tree for the replica comparison only
    if (i >= 2) Tree.deleteRecursively(outOf(i - 2))
    cmp ++ Map("rows_stored" -> r.recordsStored, "rows_lost" -> 0L,
      "files_written" -> walk.files, "bytes_written" -> walk.bytes) ++
      seen.map(s => Map("files_probed" -> s.filesProbed,
        "files_rejected" -> s.filesRejected, "rows_in" -> s.rowsIn,
        "rows_out" -> s.rowsOut, "stats_files" -> s.statsFiles)).getOrElse(Map.empty)
  }

  /** The two bad files are rejected and every good file accepted: a
    * footer-probe-only ingest (its frame is never executed). */
  private def checkRejects(): Unit = {
    val ing = ParquetIngestor.ingest(c.spark, raw.toString, Schemas.raw,
      checkpointPath = None, incremental = false)
    val good = c.truth.get("good_files").elements.asScala.map(_.asText).toSet
    val bad = c.truth.get("bad_files").elements.asScala.map(_.asText).toSet
    c.check(ing.accepted.toSet == good, s"accepted ${ing.accepted} != good files")
    c.check((ing.skipped ++ ing.failed.map(_._1)).toSet == bad,
      s"rejected ${ing.skipped ++ ing.failed.map(_._1)} != $bad")
  }
}

/** Restores the loaded-history state, adds the next day's file and runs
  * the incremental pipeline; then lookups through `Loader.readBack`.
  * The history is loaded once per engine build by `prep`, in its own
  * JVM, into the state directory: `state/out` is the loaded tree and
  * `state/raw` holds the history files with the checkpoint and its crc
  * sidecar. Each op restores both from there. */
final class DailyIncrement(c0: Ctx) extends PipelineWorkload(c0) {
  private val state = Tree.path(c.args.state)
  override val raw: Path =
    if (c.args.mode == "prep") state.resolve("raw") else c.inputs.resolve("raw")
  val out: Path = if (c.args.mode == "prep") state.resolve("out") else c.work.resolve("out")
  private val snap = state.resolve("out")
  private val snapCp = state.resolve("raw")
  private val cpName = cfg.ingestion.checkpointFile
  private val cpFiles = Seq(cpName, s".$cpName.crc")
  private val expected = c.truth.get("expected_rows").asLong
  private val history = c.truth.get("history_files").elements.asScala.map(_.asText).toSet
  private val nextFile = c.truth.get("next_file").asText
  def outOf(i: Int): Path = out

  /** Relative path -> (size, mtime) of every file, and -> (-1, -1) of
    * every directory. */
  private type Listing = Map[String, (Long, Long)]
  private def listing(root: Path): Listing =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_ != root).map { p =>
        root.relativize(p).toString ->
          (if (Files.isDirectory(p)) (-1L, -1L)
           else (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      }.toMap
      finally s.close()
    }
  private lazy val snapListing = listing(snap)
  private lazy val rowsBefore = Tree.rowsByPartition(snap).values.sum

  /** Loads the history files already placed in `state/raw`. */
  def prep(): Map[String, Any] = {
    val t0 = System.nanoTime
    val r = Pipeline.run(c.spark, raw.toString, out.toString,
      Some(report.toString), cfg)
    val loadS = (System.nanoTime - t0) / 1e9
    val want = c.truth.get("history_expected_rows").asLong
    c.check(r.recordsStored == want, s"history load stored ${r.recordsStored}, ground truth $want")
    Map("history_load_s" -> loadS, "history_rows" -> r.recordsStored)
  }

  /** Restores the output tree and the checkpoint to the loaded state:
    * each top-level entry of the tree (a `date=` directory or a file)
    * that differs from the snapshot is replaced by the snapshot's copy,
    * or removed when the snapshot has none. */
  override def before(i: Int): Unit = {
    val cur = listing(out)
    val changed = (cur.keySet ++ snapListing.keySet)
      .filter(k => cur.get(k) != snapListing.get(k))
      .map(k => out.relativize(out.resolve(k)).getName(0).toString)
    Files.createDirectories(out)
    changed.foreach { top =>
      Tree.deleteRecursively(out.resolve(top))
      val s = snap.resolve(top)
      if (Files.isDirectory(s)) Tree.copyRecursively(s, out.resolve(top))
      else if (Files.exists(s))
        Files.copy(s, out.resolve(top), StandardCopyOption.COPY_ATTRIBUTES)
    }
    cpFiles.foreach(f => Files.copy(snapCp.resolve(f), raw.resolve(f),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES))
    if (listing(out) != snapListing)
      throw new IllegalStateException("restored output tree differs from the snapshot")
  }

  def op(i: Int, sp: Option[Spans]): Any = runPipeline(i, sp, force = false)

  def after(i: Int, traced: Boolean, res: Any): Map[String, Any] = {
    val (r, seen) = res.asInstanceOf[(PipelineResult, Option[Replica.PipelineSeen])]
    c.check(r.success, s"op $i: success=false")
    c.check(r.recordsStored == expected,
      s"op $i: stored ${r.recordsStored} rows of the new day, ground truth $expected")
    val cp = Checkpoint.load(
      org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration()),
      new org.apache.hadoop.fs.Path(raw.resolve(cpName).toUri))
    c.check(cp.processedFiles == history + nextFile,
      s"op $i: checkpoint names ${cp.processedFiles.size} files, expected ${history.size + 1}")
    c.check(cp.lastRunStats.get("files_processed").contains(1L),
      s"op $i: files_processed=${cp.lastRunStats.get("files_processed")}, expected 1 " +
        "(a failed checkpoint restore falls back to a full reload)")
    checkMetadata(i, out, r.recordsStored)
    val after = Tree.rowsByPartition(out).values.sum
    val lost = rowsBefore + r.recordsStored - after
    val snapNames = snapListing.keySet
    val newFiles = Tree.dataFiles(out).filterNot(p => snapNames(out.relativize(p).toString))
    seen.foreach { s =>
      c.check(s.filesProbed == 1, s"op $i: ingest probed ${s.filesProbed} files, expected 1")
    }
    val cmp = compareReplica(i, traced, out)
    cmp ++ Map("rows_stored" -> r.recordsStored, "rows_lost" -> lost,
      "rows_before" -> rowsBefore, "rows_after" -> after,
      "files_written" -> newFiles.size, "bytes_written" -> newFiles.map(Files.size).sum) ++
      seen.map(s => Map("files_probed" -> s.filesProbed,
        "files_rejected" -> s.filesRejected, "rows_in" -> s.rowsIn,
        "rows_out" -> s.rowsOut, "stats_files" -> s.statsFiles)).getOrElse(Map.empty)
  }

  override def reads(): Map[String, Any] = Reads.run(c, out, c.args.reads)
}

/** One client in a closed loop issuing seeded lookups through
  * `Loader.readBack` on the stored tree: `nPoint` point lookups (one
  * date, one sensor) and, after every third, a one-week range aggregate. */
object Reads extends AdaptiveSparkPlanHelper {

  def run(c: Ctx, out: Path, nPoint: Int): Map[String, Any] = {
    val byPart = Tree.rowsByPartition(out)
    val parts = byPart.keys.toSeq.sorted.map { k =>
      val kv = k.split("/").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      (kv("date"), kv("sensor_id"), byPart(k))
    }
    val dates = parts.map(_._1).distinct.sorted
    val rng = new scala.util.Random(c.args.seed * 7919L + 17)
    val point = mutable.ArrayBuffer.empty[Double]
    val scan = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var k = 0
    while (k < nPoint + nPoint / 3) {
      c.attempted += 1
      val isScan = k % 4 == 3
      val opId = 1000000 + k
      val sp: Spans = c.tracer.map(t => new OpSpans(t, opId)).getOrElse(NoSpans)
      try {
        val s0 = System.nanoTime
        val (rows, want, files, planMs, execMs) =
          if (!isScan) {
            val (d, s, n) = parts(rng.nextInt(parts.size))
            val df = sp("read.plan") {
              Loader.readBack(c.spark, out.toString, Some(d), Some(s))
            }
            val p1 = System.nanoTime
            val got = sp("read.exec") { df.collect().length.toLong }
            val p2 = System.nanoTime
            (got, n, filesScanned(df), (p1 - s0) / 1e6, (p2 - p1) / 1e6)
          } else {
            val from = rng.nextInt(math.max(1, dates.size - 6))
            val week = dates.slice(from, from + 7)
            val df = sp("read.plan") { Loader.readBack(c.spark, out.toString) }
            val p1 = System.nanoTime
            val agg = df.filter(col("date").between(week.head, week.last))
              .groupBy(col("sensor_id"), col("reading_type"))
              .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
            val got = sp("read.exec") { agg.collect().map(_.getLong(2)).sum }
            val p2 = System.nanoTime
            val want = parts.filter(p => week.contains(p._1)).map(_._3).sum
            (got, want, filesScanned(agg), (p1 - s0) / 1e6, (p2 - p1) / 1e6)
          }
        val ms = (System.nanoTime - s0) / 1e6
        if (isScan) scan += ms else point += ms
        if (c.tracer.isDefined) layers += Map("plan_ms" -> planMs,
          "exec_ms" -> execMs, "files_scanned" -> files.toDouble,
          "scan" -> (if (isScan) 1.0 else 0.0))
        c.check(rows == want, s"lookup $k: read $rows rows, partition footers hold $want")
      } catch {
        case e: Throwable => c.fail(s"lookup $k threw ${e.getClass.getName}: ${e.getMessage}")
      }
      k += 1
    }
    Map("point_ms" -> point.toSeq, "scan_ms" -> scan.toSeq, "layers" -> layers.toSeq)
  }

  private def filesScanned(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

/** `CurationPipeline.curate` plus the writes `CurationPipeline.main` makes. */
final class CurateCorpus(c0: Ctx) extends Workload(c0) {
  private val outDir = c.work.resolve("curated")
  private val exactIds = c.truth.get("exact_copy_ids").elements.asScala.map(_.asLong).toSet
  private val nearIds = c.truth.get("near_copy_ids").elements.asScala.map(_.asLong).toSet
  private val nInput = c.truth.get("input_docs").asLong
  private var firstCounts: Option[Seq[Long]] = None
  private var lastProgram: Option[Map[String, Any]] = None

  override def before(i: Int): Unit = Tree.deleteRecursively(outDir)

  def op(i: Int, sp: Option[Spans]): Any = {
    val docs = c.spark.read.parquet(c.inputs.resolve("documents.parquet").toString)
    val emb = Some(c.spark.read.parquet(c.inputs.resolve("embeddings.parquet").toString))
    val (r, seen) = sp match {
      case None => (CurationPipeline.curate(docs, emb), None)
      case Some(s) =>
        val (r, seen) = Replica.curate(s, docs, emb)
        (r, Some(seen))
    }
    val nBins = Replica.curateWrites(sp.getOrElse(NoSpans), r, outDir.toString)
    (r, seen, nBins)
  }

  def after(i: Int, traced: Boolean, res: Any): Map[String, Any] = {
    val (r, seen, nBins) =
      res.asInstanceOf[(CurationPipeline.Result, Option[Replica.CurateSeen], Long)]
    r.corpus.unpersist()
    val counts = Seq(r.nInput, r.nAfterExact, r.nAfterNearDup, r.nAfterSemantic, nBins)
    c.check(r.nInput == nInput, s"op $i: input ${r.nInput} docs, generated $nInput")
    c.check(r.nAfterExact == nInput - exactIds.size,
      s"op $i: ${r.nAfterExact} docs after exact dedup, expected ${nInput - exactIds.size}")
    firstCounts match {
      case None => firstCounts = Some(counts)
      case Some(f) => c.check(f == counts, s"op $i: stage counts $counts differ from op 0's $f")
    }
    val corpus = outDir.resolve("corpus_clean")
    val ids = c.spark.read.parquet(corpus.toString).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    c.check(ids.size == r.nAfterSemantic,
      s"op $i: corpus_clean holds ${ids.size} docs, curate counted ${r.nAfterSemantic}")
    val survivingCopies = ids.intersect(exactIds)
    c.check(survivingCopies.isEmpty, s"op $i: exact copies survived: ${survivingCopies.take(5)}")
    val stored = Tree.dataFiles(corpus).map(Tree.footerRows).sum
    c.check(stored == r.nAfterSemantic, s"op $i: corpus footers hold $stored rows")
    val written = Tree.dataFiles(outDir)
    val cmp =
      if (c.tracer.isEmpty) Map.empty[String, Any]
      else {
        val hash = c.spark.read.parquet(corpus.toString)
          .select(sum(xxhash64(col("doc_id"), col("text")).cast("decimal(38,0)")))
          .head().get(0).toString
        val sig = Map("counts" -> counts, "content" -> hash)
        if (!traced) { lastProgram = Some(sig); Map.empty[String, Any] }
        else lastProgram.map { p =>
          c.check(p == sig, s"op $i: REPLICA DRIFT: the traced replica of " +
            "CurationPipeline.curate kept different documents than the program")
          Map[String, Any]("replica_match" -> (p == sig))
        }.getOrElse(Map.empty[String, Any])
      }
    cmp ++ Map("rows_stored" -> r.nAfterSemantic, "rows_lost" -> 0L,
      "files_written" -> written.size, "bytes_written" -> written.map(Files.size).sum,
      "exact_rows" -> r.nAfterExact, "near_rows" -> r.nAfterNearDup,
      "semantic_rows" -> r.nAfterSemantic, "packed_bins" -> nBins,
      "near_copies_surviving" -> ids.intersect(nearIds).size) ++
      seen.map(s => Map("near_pairs" -> s.nearPairs)).getOrElse(Map.empty)
  }
}
