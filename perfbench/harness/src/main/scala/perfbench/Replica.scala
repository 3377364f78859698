package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.CurationPipeline
import graft.config.PipelineConfig
import graft.ingest.ParquetIngestor
import graft.load.Loader
import graft.model.{PipelineResult, Schemas}
import graft.operators.{Curation, Dedup, Similarity}
import graft.transform.Transforms
import graft.validate.Validation

/** Wraps a layer call in a span, or runs it bare. */
trait Spans { def apply[T](name: String)(body: => T): T }

object NoSpans extends Spans { def apply[T](name: String)(body: => T): T = body }

final class OpSpans(t: Tracer, op: Int) extends Spans {
  def apply[T](name: String)(body: => T): T = t.span(name, op)(body)
}

/** Replicas of the program's call sequences with a span around each
  * layer call. They must stay step-for-step equal to `Pipeline.run` and
  * `CurationPipeline.curate`; the traced run compares their output with
  * the program's and reports drift. */
object Replica {

  /** What the traced pipeline replica saw besides the result. */
  final case class PipelineSeen(
      filesProbed: Long, filesRejected: Long, rowsIn: Long, rowsOut: Long,
      statsFiles: Long)

  /** `Pipeline.run`, step for step. The one addition is a count that
    * forces the persisted transformed frame inside the transform span,
    * so that transform and validation time separate. */
  def pipeline(
      sp: Spans,
      spark: SparkSession,
      rawDir: String,
      outPath: String,
      reportPath: Option[String],
      cfg: PipelineConfig,
      forceFullReload: Boolean): (PipelineResult, PipelineSeen) = {
    implicit val s: SparkSession = spark
    val ing = sp("ingest") {
      ParquetIngestor.ingest(
        spark, rawDir, Schemas.raw,
        checkpointPath = Some(s"$rawDir/${cfg.ingestion.checkpointFile}"),
        incremental = cfg.ingestion.incrementalMode && !forceFullReload)
    }
    val probed = (ing.accepted.size + ing.skipped.size + ing.failed.size).toLong
    val rejected = (ing.skipped.size + ing.failed.size).toLong
    ing.data match {
      case None =>
        (PipelineResult(success = true, 0, 0, 100.0, Seq.empty, outPath),
          PipelineSeen(probed, rejected, 0, 0, 0))
      case Some(raw) =>
        val rawObs = new Observation("graft_ingested")
        val (transformed, rowsOut) = sp("transform") {
          val t = raw
            .observe(rawObs, count(lit(1)).as("rows"))
            .transform(Transforms.pipeline(cfg))
            .persist(StorageLevel.MEMORY_AND_DISK)
          (t, t.count())
        }
        try {
          val result = sp("validate") { Validation.collectMetrics(cfg)(transformed) }
          sp("report") { reportPath.foreach(p => Validation.writeReport(result, p)) }

          val ts = java.time.Instant.now.toString
          val storedObs = new Observation("graft_stored")
          val stored = sp("load.write") {
            val prepared = transformed
              .transform(Loader.addMetadata(result, cfg.pipelineVersion, ts))
              .transform(Loader.optimizeTypes)
              .observe(storedObs, count(lit(1)).as("rows"))
            Loader.write(cfg, outPath)(prepared)
            storedObs.get("rows").asInstanceOf[Long]
          }
          val stats = sp("load.stats") { Loader.storageStats(spark, outPath) }
          sp("load.metadata") {
            Loader.writeMetadata(spark, outPath, result, stats, stored, ts)
          }
          val rowsIn = rawObs.get("rows").asInstanceOf[Long]
          sp("checkpoint") { ing.commit(rowsIn) }

          (PipelineResult(
            success = true,
            recordsIngested = result.totalRecords,
            recordsStored = stored,
            qualityScore = result.qualityScore,
            issues = result.issuesFound,
            outputPath = outPath),
            PipelineSeen(probed, rejected, rowsIn, rowsOut, stats.totalFiles))
        } finally sp("unpersist") { transformed.unpersist() }
    }
  }

  /** What the traced curation replica saw besides the result. */
  final case class CurateSeen(nearPairs: Long)

  /** `CurationPipeline.curate` with its default arguments, step for step;
    * an observation on the LSH pairs counts them without another job. */
  def curate(sp: Spans, docs: DataFrame, embeddings: Option[DataFrame])
      : (CurationPipeline.Result, CurateSeen) = {
    val idCol = "doc_id"
    val textCol = "text"
    val lshThreshold = 0.9
    val semanticThreshold = 0.97
    val binTokens = 2048
    val shards = 64
    val nInput = sp("curate.input") { docs.count() }

    val (afterExact, nAfterExact) = sp("curate.exact") {
      val keepExact = docs
        .select(col(idCol), Dedup.normalizedHash(col(textCol)).as("h"))
        .groupBy(col("h")).agg(min(col(idCol)).as(idCol))
        .select(col(idCol))
      val a = docs.join(keepExact, idCol).persist(StorageLevel.MEMORY_AND_DISK)
      (a, a.count())
    }

    val pairsObs = new Observation("perfbench_near_pairs")
    val (afterNear, nAfterNear) = sp("curate.near") {
      val pairs = Dedup.minhashLsh(afterExact, idCol, textCol,
        k = 16, bands = 4, shingleN = 3, threshold = lshThreshold)
        .observe(pairsObs, count(lit(1)).as("pairs"))
      val dropNear = Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b")))
        .filter(col("id") =!= col("label"))
        .select(col("id").as(idCol))
      val a = afterExact.join(dropNear, Seq(idCol), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = a.count()
      afterExact.unpersist()
      (a, n)
    }

    val (afterSem, nAfterSem) = sp("curate.semantic") {
      embeddings match {
        case Some(embAll) =>
          val emb = embAll.join(
            afterNear.select(col(idCol).as("vec_id")), Seq("vec_id"), "left_semi")
          val dropped = Similarity.semanticDedup(
            emb, "vec_id", "embedding",
            k = 16, iters = 2, threshold = semanticThreshold,
            maxCellSize = 4096)
            .filter(col("dropped")).select(col("vid").as(idCol))
          val kept = afterNear.join(dropped, Seq(idCol), "left_anti")
            .persist(StorageLevel.MEMORY_AND_DISK)
          val n = kept.count()
          afterNear.unpersist()
          (kept, n)
        case None => (afterNear, nAfterNear)
      }
    }

    val manifest = sp("curate.pack") {
      val sharded = afterSem.withColumn("shard",
        pmod(xxhash64(col(idCol)), lit(shards)))
      Curation.packingManifest(sharded, "shard", idCol, textCol, capacity = binTokens)
    }
    val pairs = pairsObs.get("pairs").asInstanceOf[Long]
    (CurationPipeline.Result(afterSem, manifest, nInput, nAfterExact,
      nAfterNear, nAfterSem), CurateSeen(pairs))
  }

  /** The writes `CurationPipeline.main` makes after `curate`: corpus,
    * manifest, the packed-bin total and stats.json. Returns the bin total. */
  def curateWrites(sp: Spans, r: CurationPipeline.Result, outDir: String): Long = {
    sp("curate.write") {
      r.corpus.write.mode("overwrite").parquet(s"$outDir/corpus_clean")
    }
    val nBins = sp("curate.pack") {
      r.manifest.write.mode("overwrite").parquet(s"$outDir/pack_manifest")
      r.manifest
        .groupBy(col("shard"))
        .agg(max(col("bin_start") + col("bins_spanned")).as("shard_bins"))
        .agg(sum(col("shard_bins"))).head().getLong(0)
    }
    sp("curate.write") {
      val stats =
        s"""{"input_docs":${r.nInput},"after_exact_dedup":${r.nAfterExact},"after_near_dedup":${r.nAfterNearDup},"after_semantic_dedup":${r.nAfterSemantic},"packed_bins":$nBins}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/stats.json"),
        (stats + "\n").getBytes("UTF-8"))
    }
    nBins
  }
}
