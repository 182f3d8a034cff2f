package graft.pipelines

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.llm.{Curation, Packing, QualityClassifier, TextOps}

/**
 * End-to-end TRAINING-DATA curation driver — the LLM-side sibling of
 * [[RunPipeline]]: raw documents → Unicode normalize → learned quality
 * gate → opening-fingerprint dedup → token-budget packing → materialized
 * training sequences, plus the per-source funnel report a curator reads.
 * Every stage is the registry-verified operator; this main proves they
 * run as ONE executable lifecycle and reports per-stage wall times.
 *
 *   sbt "runMain graft.pipelines.RunCuration [sfDir] [outRoot]"
 *
 * Prints one JSON line: per-stage seconds + the funnel totals.
 */
object RunCuration {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outRoot = args.lift(1).getOrElse("target/curation_demo")
    val spark = GraftSession()

    val model = QualityClassifier.DefaultModel
    val minLogit = model.bias.add(new java.math.BigDecimal("0.050000"))
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // 1. funnel report (normalize + gate + dedup counts per source)
    val (funnel, tReport) = timed {
      val f = Curation.curationFunnel(docs, "doc_id", "text", "source", model, minLogit)
      f.write.mode("overwrite").parquet(s"$outRoot/funnel_report")
      spark.read.parquet(s"$outRoot/funnel_report")
        .agg(sum("n_in"), sum("n_quality"), sum("n_final"), sum("tokens_final"))
        .collect()(0)
    }

    // 2. materialize the SURVIVOR corpus (same stages, row-level)
    val (nKept, tCurate) = timed {
      val norm = docs.select(col("doc_id"), col("source"),
        TextOps.normalizeText(col("text")).as("norm"))
      val gated = QualityClassifier.scoreStreamable(norm, "doc_id", "norm", model, minLogit)
        .filter(col("keep")).select(col("id").as("doc_id"))
      val kept = norm.join(gated, "doc_id")
      val w = Window.partitionBy(col("_k")).orderBy(col("doc_id"))
      val deduped = kept
        .withColumn("_k", Curation.openingFingerprint(col("norm"), prefixTokens = 8))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("doc_id"), col("source"), col("norm"))
      deduped.write.mode("overwrite").parquet(s"$outRoot/curated")
      spark.read.parquet(s"$outRoot/curated").count()
    }

    // 3. pack the curated corpus into training sequences
    val (nSeqs, tPack) = timed {
      val curated = spark.read.parquet(s"$outRoot/curated")
      val seqs = Packing.materializeBins(curated, "doc_id", "norm",
        binCapacity = 512L, chunkSize = 64L)
      seqs.write.mode("overwrite").parquet(s"$outRoot/sequences")
      spark.read.parquet(s"$outRoot/sequences").count()
    }

    // the one-pass funnel report and the row-level survivor path are two
    // implementations of the same semantics — hold them to each other
    require(nKept == funnel.getLong(2),
      s"funnel n_final=${funnel.getLong(2)} != row-level survivors $nKept")

    println(s"""{"metric":"curation_lifecycle","sf":"$sfDir"""" +
      s""","report_sec":${f"$tReport%.3f"},"curate_sec":${f"$tCurate%.3f"}""" +
      s""","pack_sec":${f"$tPack%.3f"}""" +
      s""","n_in":${funnel.getLong(0)},"n_quality":${funnel.getLong(1)}""" +
      s""","n_final":${funnel.getLong(2)},"tokens_final":${funnel.getLong(3)}""" +
      s""","n_kept":$nKept,"n_sequences":$nSeqs}""")
    spark.stop()
  }
}
