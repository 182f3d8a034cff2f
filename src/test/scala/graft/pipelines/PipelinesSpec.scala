package graft.pipelines

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, collect_set, size}
import graft.SparkTestBase
import graft.io.TableRef

class PipelinesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("config parser: params, nested params, step list (utils.py:32-94)") {
    val cfg = StepRunner.parseConfig(
      """# pipeline config
        |release: r42
        |params:
        |  program: TCGA
        |  dataset: 'dev_tables'
        |steps:
        |  - build_a
        |  - build_c
        |""".stripMargin)
    assert(cfg.params("release") === "r42")
    assert(cfg.params("program") === "TCGA")
    assert(cfg.params("dataset") === "dev_tables")
    assert(cfg.steps === Seq("build_a", "build_c"))
  }

  test("step runner executes selected steps in registration order; unknown step fatal") {
    val cfg = StepRunner.PipelineConfig(Map.empty, Seq("b", "a"))
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val steps = Seq[(String, (org.apache.spark.sql.SparkSession, StepRunner.PipelineConfig) => Unit)](
      "a" -> ((_, _) => ran += "a"),
      "b" -> ((_, _) => ran += "b"),
      "c" -> ((_, _) => ran += "c"))
    val executed = StepRunner.run(spark, cfg, steps)
    assert(executed === Seq("a", "b") && ran.toSeq === Seq("a", "b"))
    intercept[IllegalArgumentException] {
      StepRunner.run(spark, StepRunner.PipelineConfig(Map.empty, Seq("nope")), steps)
    }
  }

  test("TableRef naming: dev release-prefix, published release-suffix, sanitization") {
    assert(TableRef(TableRef.Dev, "case metadata", "r42").tableName === "r42_case_metadata")
    assert(TableRef(TableRef.Clinical, "diagnosis", "r42").tableName === "diagnosis_r42")
    assert(TableRef(TableRef.Clinical, "diagnosis", "r42").id("prod") === "prod.diagnosis_r42")
    assert(TableRef(TableRef.Clinical, "diagnosis", "r42").currentName === "diagnosis_current")
    assert(TableRef.previousGdcRelease("r30") === Some("r29"))
    assert(TableRef.previousGdcRelease("r30p2") === Some("r29"))
    assert(TableRef.previousGdcRelease("r1") === None)
    assert(TableRef.previousGdcRelease("v9") === None)
  }

  test("per-sample-file: branch split, placeholders, suffix (per_sample_file_gdc.py:86-206)") {
    val file = Seq(("f1", "f1.bam", "open"), ("f2", "f2.bam", "open"),
      ("f3", "f3.bam", "controlled"), ("f4", "f4.bam", "open"))
      .toDF("file_id", "file_name", "access")
    val fawe = Seq(
      ("f1", "e1", "TCGA-01-A1", "aliquot"),
      ("f2", "s1", "TCGA-02-B2", "slide"),
      ("f3", "c1", "TCGA-03-C3", "case"),
      ("f4", "e1;e2", "TCGA-04-D4", "aliquot")) // multi → case branch
      .toDF("file_id", "entity_id", "entity_submitter_id", "entity_type")
    val a2c = Seq(("e1", "CB1", "SB1", "Tumor")).toDF(
      "aliquot_gdc_id", "case_barcode", "sample_barcode", "sample_type_name")
    val s2c = Seq(("s1", "CB2", "SB2", "Normal")).toDF(
      "slide_gdc_id", "case_barcode", "sample_barcode", "sample_type_name")
    val out = PerSampleFile.build(file, fawe, a2c, s2c)
      .select("file_id", "entity_kind", "case_barcode", "sample_barcode", "entity_suffix")
      .as[(String, String, String, String, String)].collect().toSet
    assert(out === Set(
      ("f1", "aliquot", "CB1", "SB1", "01-A1"),
      ("f2", "slide", "CB2", "SB2", "02-B2"),
      ("f3", "case", "03-C3", null, "03-C3"),
      ("f4", "case", "04-D4", null, "04-D4")))
  }

  test("withDrsUris LEFT-joins index URIs, keeping unmatched files (per_sample_file_gdc.py:267-302)") {
    val built = Seq(("f1", "open"), ("f2", "open")).toDF("file_id", "access")
    val drs = Seq(("f1", "store://bucket/f1")).toDF("file_uuid", "gcs_path")
    val out = PerSampleFile.withDrsUris(built, drs)
      .select("file_id", "gcs_path").as[(String, String)].collect().toSet
    assert(out === Set(("f1", "store://bucket/f1"), ("f2", null)))
  }

  test("rnaSeq: artifact filter + prefix join + pooled merge (RNA_seq.py:97-215)") {
    val raw = Seq(
      ("u1".padTo(36, 'x') + ".tsv", "ENSG1", "g1", 10L, 0.05),
      ("u1".padTo(36, 'x') + ".tsv", "__no_feature", "n/a", 99L, 0.99),
      ("u2".padTo(36, 'x') + ".tsv", "ENSG1", "g1", 5L, 0.03))
      .toDF("file_name", "gene_id", "gene_name", "unstranded", "tpm_unstranded")
    val a2c = Seq(
      ("u1".padTo(36, 'x'), "CB1", "SB1", "AB1", "P1"),
      ("u2".padTo(36, 'x'), "CB1", "SB1", "AB2", "P1"))
      .toDF("file_gdc_id", "case_barcode", "sample_barcode", "aliquot_barcode", "project_short_name")
    val out = StagedBuilds.rnaSeq(raw, a2c)
      .select("gene_id", "aliquot_barcodes", "unstranded", "tpm_unstranded")
      .as[(String, String, Long, Double)].collect()
    assert(out.length === 1)
    assert(out(0) === (("ENSG1", "AB1;AB2", 15L, 0.08)))  // pooled merge
  }

  test("quant melt: composite header split (quant_data_matrix_pdc.py:533-662)") {
    val wide = Seq(("G1", Some(1.5), None: Option[Double]), ("G2", Some(2.0), Some(3.0)))
      .toDF("Gene", "a1:s1", "a2:s2")
    val out = StagedBuilds.meltQuantMatrix(wide, "Gene")
      .select("gene_symbol", "aliquot_run_metadata_id", "aliquot_submitter_id",
        "protein_abundance_log2ratio")
      .as[(String, String, String, Double)].collect().toSet
    assert(out === Set(("G1", "a1", "s1", 1.5), ("G2", "a1", "s1", 2.0), ("G2", "a2", "s2", 3.0)))
  }

  test("RunPipeline end-to-end: load → build → publish → QC (SURVEY §3)") {
    val outRoot = tempDir("demo")
    val cfg = StepRunner.parseConfig(RunPipeline.DefaultConfig)
    val executed = RunPipeline.run(spark, cfg, "/root/testdata/sf0.001", outRoot)
    assert(executed === Seq("load_tables", "build_clinical", "build_per_sample_file",
      "publish", "qc_report"))
    assert(spark.read.parquet(s"$outRoot/published/clinical_current").count() === 150)
    // second run with identical data: diff gate must skip republishing
    RunPipeline.run(spark, cfg, "/root/testdata/sf0.001", outRoot)
    assert(graft.publish.Publish.latestVersion(s"$outRoot/published", "clinical") === 1)
  }

  test("quantileNormalize: hand-computed reference distribution, ragged samples") {
    // A: 2,4,6  B: 3,5,100 — rank means 2.5 / 4.5 / 53
    val m = Seq(("A", "g1", 2L), ("A", "g2", 4L), ("A", "g3", 6L),
      ("B", "g1", 3L), ("B", "g2", 5L), ("B", "g3", 100L))
      .toDF("s", "g", "v")
    val qn = StagedBuilds.quantileNormalize(m, "s", "g", "v")
      .as[(String, String, Long, Long)].collect().toSet
    assert(qn === Set(
      ("A", "g1", 1L, 2500000L), ("B", "g1", 1L, 2500000L),
      ("A", "g2", 2L, 4500000L), ("B", "g2", 2L, 4500000L),
      ("A", "g3", 3L, 53000000L), ("B", "g3", 3L, 53000000L)))
    // both samples now share one distribution — the operator's whole point
    val perSample = StagedBuilds.quantileNormalize(m, "s", "g", "v")
      .groupBy("sample_id")
      .agg(collect_set(col("ref_micro")).as("dist"))
      .select(size(col("dist"))).as[Int].collect()
    assert(perSample.toSeq === Seq(3, 3))
    // ragged: a 1-gene sample joins rank 1's mean only
    val ragged = m.unionByName(Seq(("C", "g9", 10L)).toDF("s", "g", "v"))
    val r1 = StagedBuilds.quantileNormalize(ragged, "s", "g", "v")
      .filter(col("rk") === 1L).select("ref_micro").distinct()
      .as[Long].collect()
    assert(r1.toSeq === Seq(5000000L))   // (2+3+10)·1e6 div 3
    // ranks within a sample break value ties by gene id — deterministic
    val tied = Seq(("A", "g1", 7L), ("A", "g0", 7L)).toDF("s", "g", "v")
    val rk = StagedBuilds.quantileNormalize(tied, "s", "g", "v")
      .select("gene_id", "rk").as[(String, Long)].collect().toMap
    assert(rk === Map("g0" -> 1L, "g1" -> 2L))
  }

  test("clusterWrite orders rows within partitions") {
    val dir = tempDir("cluster")
    val df = Seq((3, "c"), (1, "a"), (2, "b")).toDF("k", "v")
    StagedBuilds.clusterWrite(df, s"$dir/out", Seq("k"), partitions = 1)
    val back = spark.read.parquet(s"$dir/out").as[(Int, String)].collect()
    assert(back.toSeq === Seq((1, "a"), (2, "b"), (3, "c")))
  }
}
