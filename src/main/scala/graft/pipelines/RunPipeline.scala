package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.clinical.{Clinical, EntitySpec}
import graft.io.Io
import graft.ops.{Diff, Golden}
import graft.publish.Publish

/**
 * End-to-end demo of the reference's pipeline lifecycle (SURVEY §3) on the
 * engine: config → step-gated execution → dev-table load → clinical build →
 * per-sample-file build → versioned publish (diff-gated) → QC report.
 *
 *   sbt "runMain graft.pipelines.RunPipeline [configPath] [sfDir] [outRoot]"
 *
 * With no config file, all steps run against sf0.001 into target/demo.
 */
object RunPipeline {

  val DefaultConfig: String =
    """release: r1
      |steps:
      |  - load_tables
      |  - build_clinical
      |  - build_per_sample_file
      |  - publish
      |  - qc_report
      |""".stripMargin

  def registeredSteps(sfDir: String, outRoot: String)
      : Seq[(String, (SparkSession, StepRunner.PipelineConfig) => Unit)] = Seq(

    "load_tables" -> { (spark, _) =>
      Seq("customer", "orders", "lineitem", "part").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(s"dev_$t")
      }
    },

    "build_clinical" -> { (spark, _) =>
      val customer = spark.table("dev_customer")
      val flat = Clinical.flatten(
        Map(
          "case" -> customer.select("c_custkey", "c_name"),
          "profile" -> customer.select("c_custkey", "c_mktsegment", "c_acctbal"),
          "orders" -> spark.table("dev_orders").select("o_custkey", "o_orderkey")),
        Seq(
          EntitySpec("case", "c_custkey", columnOrderFirst = Seq("c_custkey", "c_name")),
          EntitySpec("profile", "c_custkey", childOf = Some("case"),
            prefix = Some("prof__"), singleEntry = true),
          EntitySpec("orders", "o_custkey", childOf = Some("case"))),
        "case")
      Io.ctasParquet(spark, flat, s"$outRoot/stage/clinical")
    },

    "build_per_sample_file" -> { (spark, _) =>
      val l = spark.table("dev_lineitem").groupBy("l_orderkey", "l_linenumber")
        .agg(min(col("l_partkey")).as("l_partkey"),
          min(col("l_returnflag")).as("l_returnflag"))
      val file = l.select(
        concat(lit("f"), col("l_orderkey"), lit("-"), col("l_linenumber")).as("file_id"),
        concat(lit("f"), col("l_orderkey"), lit("-"), col("l_linenumber"), lit(".bam")).as("file_name"),
        lit("open").as("access"))
      val fawe = l.select(
        concat(lit("f"), col("l_orderkey"), lit("-"), col("l_linenumber")).as("file_id"),
        when(col("l_returnflag") === "R", concat(lit("e"), col("l_partkey")))
          .otherwise(concat(lit("c"), col("l_orderkey"))).as("entity_id"),
        concat(lit("TCGA-"), col("l_partkey")).as("entity_submitter_id"),
        when(col("l_returnflag") === "R", lit("aliquot")).otherwise(lit("case")).as("entity_type"))
      val p = spark.table("dev_part")
      val a2c = p.select(concat(lit("e"), col("p_partkey")).as("aliquot_gdc_id"),
        concat(lit("CB-"), col("p_partkey")).as("case_barcode"),
        concat(lit("SB-"), col("p_partkey")).as("sample_barcode"),
        col("p_type").as("sample_type_name"))
      val s2c = a2c.withColumnRenamed("aliquot_gdc_id", "slide_gdc_id").limit(0)
      Io.ctasParquet(spark, PerSampleFile.build(file, fawe, a2c, s2c),
        s"$outRoot/stage/per_sample_file")
    },

    "publish" -> { (spark, cfg) =>
      Seq("clinical", "per_sample_file").foreach { name =>
        val staged = spark.read.parquet(s"$outRoot/stage/$name")
        val r = Publish.publish(spark, staged, s"$outRoot/published", name)
        Publish.writeMetadata(r.path, Publish.templateMetadata(
          Map("friendly_name" -> s"$name ({---release---})"),
          Map("release" -> cfg.params.getOrElse("release", "r0"))))
        System.err.println(s"[publish] $name: published=${r.published} v${r.version}")
      }
    },

    "qc_report" -> { (spark, _) =>
      val published = spark.read.parquet(s"$outRoot/published/clinical_current")
      Golden.assertAllPassed(Golden.compare(
        published, spark.read.parquet(s"$outRoot/stage/clinical"), Seq("c_custkey")))
      val dups = Diff.duplicateKeys(published, Seq("c_custkey")).count()
      require(dups == 0, s"duplicate case keys in published clinical: $dups")
      System.err.println(s"[qc] clinical rows=${published.count()} duplicate_keys=$dups")
    })

  def run(spark: SparkSession, config: StepRunner.PipelineConfig,
          sfDir: String, outRoot: String): Seq[String] =
    StepRunner.run(spark, config, registeredSteps(sfDir, outRoot))

  def main(args: Array[String]): Unit = {
    // "" means "default config" so positional args 2/3 stay addressable
    val configText = args.headOption.filter(_.nonEmpty).map(p =>
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
      .getOrElse(DefaultConfig)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val outRoot = args.lift(2).getOrElse("target/demo")
    val spark = GraftSession()
    val executed = run(spark, StepRunner.parseConfig(configText), sfDir, outRoot)
    println(s"pipeline complete; steps executed: ${executed.mkString(", ")}")
    spark.stop()
  }
}
